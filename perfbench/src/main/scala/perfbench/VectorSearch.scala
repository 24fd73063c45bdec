package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Similarity, Sinks}

/** `vector_search`: similarity search as a session against one index. The
  * first op builds the index (`Similarity.ivfParamsAuto` sizes it,
  * `buildIvfIndex` builds it, centroids and postings are written to
  * parquet and read back); every later op is one batch of
  * `VectorGen.BatchSize` queries through
  * `ivfTopKWithIndex(batch, corpus, index, 10, nProbe)`, collected.
  * Batches cycle through the generated pool if the run outlasts it. */
final class VectorSearch(ctx: Ctx) extends Workload {
  import ctx._

  private var gen: VectorGen.Output = _
  private var corpus, queries: DataFrame = _
  private var index: Similarity.IvfIndex = _
  private var nProbe = 0
  private var buildS = Double.NaN
  private val searchS = ArrayBuffer.empty[Double]
  private val recalls = ArrayBuffer.empty[Double]
  var setupOk = true

  /** The index build plus 16 query batches. */
  def minOps: Int = 17

  def generate(): Unit = gen = VectorGen(spark, seed, ctx.dir("gen"))

  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    corpus = spark.read.parquet(gen.corpus.getPath)
    queries = spark.read.parquet(gen.queries.getPath)
    (System.nanoTime() - t0) / 1e9
  }

  def hasNext: Boolean = true

  def op(i: Int): Boolean =
    if (i == 0) build() else search(i, (i - 1) % gen.batches)

  private def build(): Boolean = {
    val out = ctx.dir("index")
    val t0 = System.nanoTime()
    tracer.span("Similarity.buildIvfIndex", 0) {
      val (nCentroids, probe) = Similarity.ivfParamsAuto(corpus.count())
      nProbe = probe
      val built = Similarity.buildIvfIndex(corpus, nCentroids).get
      val (c, p) = (new File(out, "centroids").getPath, new File(out, "postings").getPath)
      Sinks.truncateAndLoad(built.centroids, c)
      Sinks.truncateAndLoad(built.postings, p)
      index = Similarity.IvfIndex(spark.read.parquet(c), spark.read.parquet(p))
    }
    buildS = (System.nanoTime() - t0) / 1e9
    index.postings.count() == gen.n
  }

  private def search(i: Int, b: Int): Boolean = {
    val batch = queries.filter(col("batch") === b).select("vec_id", "embedding")
    val t0 = System.nanoTime()
    val rows = tracer.span("Similarity.ivfTopKWithIndex", i) {
      Similarity.ivfTopKWithIndex(batch, corpus, index, VectorGen.K, nProbe).collect()
    }
    searchS += (System.nanoTime() - t0) / 1e9

    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("neighbor_id")) }
    gen.truth.foreach { case (q, exact) if got.contains(q) =>
      recalls += got(q).count(exact.contains).toDouble / VectorGen.K
    case _ => }
    val wellFormed = got.size == VectorGen.BatchSize && got.values.forall(ns =>
      ns.length == VectorGen.K && ns.forall(id => id >= 0 && id < gen.n))
    if (!wellFormed)
      System.err.println(s"[perfbench] batch $b: ${got.size} queries answered, " +
        s"sizes ${got.values.map(_.length).toSeq.distinct.mkString(",")}")
    wellFormed
  }

  def report: Seq[Metric] = Seq(
    Metric("index_build_s", "s", buildS, 1),
    Metric("search_latency_p50_s", "s", Stats.median(searchS.toSeq), searchS.size),
    Metric("search_latency_p90_s", "s", Stats.quantile(searchS.toSeq, 0.9), searchS.size),
    Metric("recall_at_10", "ratio", recalls.sum / recalls.size, recalls.size))

  def roles: Seq[(String, String)] =
    Seq("op_p50_s" -> "search_latency_p50_s", "quality" -> "recall_at_10")

  def layers(tr: Tracer): Map[String, Double] = {
    val inputMb = Option(gen.corpus.listFiles()).toSeq.flatten.map(_.length()).sum / (1024.0 * 1024.0)
    val built = tr.occurrences("Similarity.buildIvfIndex").headOption.getOrElse(Map.empty)
    Map(
      "Sinks.bytes_written_mb" -> built.getOrElse("bytes_written_mb", 0.0),
      "Sinks.files_written" -> built.getOrElse("files_written", 0.0),
      "Sinks.write_amp" -> built.getOrElse("bytes_written_mb", 0.0) / inputMb)
  }
}
