package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.Serve
import graft.functions.cleaning
import graft.operators.Sinks
import graft.streaming.StreamingIngest

/** `news_monthly`: the reference's own traffic. Set-up ingests the history
  * with `StreamingIngest.run` and starts `Serve` in-process. One op is one
  * month: land its CSV, run the stream from the same checkpoint until it
  * terminates, then POST /train, /validate and /test with the `seq`
  * predictor, the order the reference's automation script uses. */
final class NewsMonthly(ctx: Ctx) extends Workload {
  import ctx._

  private val Body = """{"predictor":"seq"}"""
  private var gen: NewsGen.Output = _
  private var landing, table, checkpoint, artifacts: File = _
  private var server: HttpServer = _
  private var rows = 0L
  private var tried = 0
  /** A month that got as far as its row-count check. */
  private final case class Month(op: Int, ingestLagS: Double, latencyS: Double,
                                 rows: Long, expected: Long, committed: Long,
                                 landedRaw: Long, csvMb: Double)
  private val checked = ArrayBuffer.empty[Month]
  var setupOk = true

  def minOps: Int = 1

  def generate(): Unit = gen = NewsGen(seed, ctx.dir("gen"))

  /** The Pipeline's input columns, projected from the ingested table:
    * (Currency, Event) is the entity key, `Actual` the measure. */
  private def events(tableDir: String): DataFrame =
    Sinks.readSnapshot(spark, tableDir).select(
      xxhash64(col("Date"), col("Time"), col("Currency"), col("Event")).as("event_id"),
      col("EventTime").as("ts"),
      xxhash64(col("Currency")).as("user_id"),
      col("Event").as("event_type"),
      cleaning.parseNumeric(col("Actual")).as("value"))

  private def ingest(op: Int): Unit = tracer.span("StreamingIngest.run", op) {
    StreamingIngest.run(spark, landing.getPath, table.getPath, checkpoint.getPath)
      .awaitTermination()
  }

  def setup(rep: Int): Double = {
    val base = ctx.dir(s"setup$rep")
    landing = new File(base, "landing"); landing.mkdirs()
    table = new File(base, "table")
    checkpoint = new File(base, "checkpoint")
    artifacts = new File(base, "artifacts")
    if (server != null) server.stop(0)
    val t0 = System.nanoTime()
    LocalFiles.land(gen.history, landing)
    ingest(-1)
    val tablePath = table.getPath
    server = Serve.start(spark, () => events(tablePath), artifacts.getPath, port = 0)
    val s = (System.nanoTime() - t0) / 1e9
    rows = Sinks.readSnapshot(spark, tablePath).count()
    if (rows != gen.expectedAfterHistory) {
      System.err.println(s"[perfbench] history: $rows rows, expected ${gen.expectedAfterHistory}")
      setupOk = false
    }
    s
  }

  def hasNext: Boolean = tried < gen.months.size

  private def post(path: String): String = {
    val c = URI.create(s"http://localhost:${server.getAddress.getPort}$path")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setReadTimeout(170000)
    c.getOutputStream.write(Body.getBytes(StandardCharsets.UTF_8))
    c.getOutputStream.close()
    try new String(c.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    finally c.disconnect()
  }

  def op(i: Int): Boolean = {
    val month = gen.months(i)
    tried = i + 1
    val t0 = System.nanoTime()
    LocalFiles.land(month, landing)
    ingest(i)
    val t1 = System.nanoTime()
    val responses = Seq("train", "validate", "test").map(s =>
      tracer.span(s"Serve.$s", i)(post(s"/$s")))
    val t2 = System.nanoTime()

    val after = Sinks.readSnapshot(spark, table.getPath).count()
    val expected = gen.expectedAfterMonth(i)
    checked += Month(i, (t1 - t0) / 1e9, (t2 - t0) / 1e9, after, expected,
      after - rows, gen.monthRawRows(i), month.length() / (1024.0 * 1024.0))
    rows = after
    val errors = responses.filter(r => Json.mapper.readTree(r).has("error"))
    errors.foreach(e => System.err.println(s"[perfbench] month ${i + 1}: $e"))
    if (after != expected)
      System.err.println(s"[perfbench] month ${i + 1}: $after rows, expected $expected")
    errors.isEmpty && after == expected
  }

  def report: Seq[Metric] = {
    val latency = checked.map(_.latencyS).toSeq
    Seq(
      Metric("ingest_lag_p50_s", "s", Stats.median(checked.map(_.ingestLagS).toSeq), checked.size),
      Metric("month_latency_p50_s", "s", Stats.median(latency), latency.size),
      Metric("month_latency_p90_s", "s", Stats.quantile(latency, 0.9), latency.size),
      // committed rows over expected rows after the last month checked; 0
      // when no month got that far
      Metric("committed_row_ratio", "ratio",
        checked.lastOption.fold(0.0)(m => m.rows.toDouble / m.expected), checked.size))
  }

  def roles: Seq[(String, String)] =
    Seq("op_p50_s" -> "month_latency_p50_s", "quality" -> "committed_row_ratio")

  def layers(tr: Tracer): Map[String, Double] = {
    val runs = tr.occurrences("StreamingIngest.run")
    def med(k: String) = Stats.median(runs.map(_.getOrElse(k, 0.0)))
    val stream = (Seq("triggers", "start_ms", "input_rows", "state_rows",
      "rows_dropped_by_watermark") ++ Tracer.StreamPhases.map(p => s"${p}_ms"))
      .map(k => s"StreamingIngest.$k" -> med(k))
    val ms = checked.toSeq
    stream.toMap ++ Map(
      "Ingest.rows_committed" -> Stats.median(ms.map(_.committed.toDouble)),
      "Ingest.keep_ratio" -> Stats.median(ms.map(m => m.committed.toDouble / m.landedRaw)),
      "Sinks.bytes_written_mb" -> Stats.median(ms.map(m => tr.opTotal(m.op, "bytes_written_mb"))),
      "Sinks.files_written" -> Stats.median(ms.map(m => tr.opTotal(m.op, "files_written"))),
      "Sinks.write_amp" -> Stats.median(ms.map(m =>
        tr.counter("StreamingIngest.run", m.op, "bytes_written_mb") / m.csvMb)))
  }

  override def close(): Unit = if (server != null) server.stop(0)
}
