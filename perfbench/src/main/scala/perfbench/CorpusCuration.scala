package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Decontamination, Dedup, Sinks, TextAnalysis}

/** `corpus_curation`: LLM data curation as one large batch. One op is the
  * whole pass; each stage is written with `Sinks.truncateAndLoad` and read
  * back, as curation pipelines stage their work:
  *  1. `TextAnalysis.withCurationGates` plus the `gopherRules` filter;
  *  2. `Decontamination.flag` against the benchmark set (13-grams);
  *  3. `Dedup.minhashLshPairsAuto` (word 3-shingles, Jaccard >= 1/2);
  *  4. `Dedup.resolveClusters`, keeping each cluster's canonical doc. */
final class CorpusCuration(ctx: Ctx) extends Workload {
  import ctx._

  private var gen: CurationGen.Output = _
  private var docs, bench: DataFrame = _
  private val passS, dedupS = ArrayBuffer.empty[Double]
  private val recall = ArrayBuffer.empty[Double]
  private val kept, flagged, pairs, removed = ArrayBuffer.empty[Double]
  var setupOk = true

  /** The first pass runs cold (JIT, code generation) at about twice the
    * time of a warm one; with three, the median is a warm pass. */
  def minOps: Int = 3

  def generate(): Unit = gen = CurationGen(spark, seed, ctx.dir("gen"))

  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    docs = spark.read.parquet(gen.corpus.getPath)
    bench = spark.read.parquet(gen.benchmark.getPath)
    (System.nanoTime() - t0) / 1e9
  }

  def hasNext: Boolean = true

  private def stage(name: String, op: Int, df: => DataFrame, path: File): DataFrame =
    tracer.span(name, op) {
      Sinks.truncateAndLoad(df, path.getPath)
      spark.read.parquet(path.getPath)
    }

  def op(i: Int): Boolean = {
    val out = ctx.dir("stages")
    val t0 = System.nanoTime()
    val gated = stage("TextAnalysis.gates", i,
      TextAnalysis.withCurationGates(docs).join(
        TextAnalysis.gopherRules(docs).filter(col("gopher_pass")).select("doc_id"),
        Seq("doc_id"), "left_semi"),
      new File(out, "gated"))
    val flags = stage("Decontamination.flag", i,
      Decontamination.flag(gated, bench, n = 13), new File(out, "flags"))
    val t1 = System.nanoTime()
    val dupPairs = stage("Dedup.minhashLshPairsAuto", i,
      Dedup.minhashLshPairsAuto(gated.select("doc_id", "text"), n = 3, num = 1, den = 2),
      new File(out, "pairs"))
    val curated = stage("Dedup.resolveClusters", i,
      Dedup.resolveClusters(gated, dupPairs).filter(col("doc_id") === col("canonical_id")),
      new File(out, "curated"))
    val t2 = System.nanoTime()
    passS += (t2 - t0) / 1e9
    dedupS += (t2 - t1) / 1e9

    val keptIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedIds = flags.filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val nGated = gated.count()
    kept += nGated.toDouble
    flagged += flaggedIds.size.toDouble
    pairs += dupPairs.count().toDouble
    removed += (nGated - keptIds.size).toDouble
    recall += gen.copies.count(id => !keptIds(id)).toDouble / gen.copies.size

    val wronglyRemoved = (0L until gen.docs).filter(id =>
      !gen.gateFail(id) && !gen.copies(id) && !keptIds(id))
    val wronglyKept = gen.gateFail.filter(keptIds)
    val missedContamination = gen.contaminated.filterNot(flaggedIds)
    Seq("gate-passing originals removed" -> wronglyRemoved.size,
      "gate-failing docs kept" -> wronglyKept.size,
      "contaminated docs not flagged" -> missedContamination.size)
      .collect { case (what, n) if n > 0 =>
        System.err.println(s"[perfbench] pass ${i + 1}: $n $what"); n }
      .isEmpty
  }

  def report: Seq[Metric] = Seq(
    Metric("curation_docs_per_s", "docs/s", gen.docs / Stats.median(passS.toSeq), passS.size),
    Metric("curation_pass_p50_s", "s", Stats.median(passS.toSeq), passS.size),
    Metric("dedup_p50_s", "s", Stats.median(dedupS.toSeq), dedupS.size),
    Metric("dup_recall", "ratio", Stats.median(recall.toSeq), recall.size))

  def roles: Seq[(String, String)] =
    Seq("op_p50_s" -> "curation_pass_p50_s", "quality" -> "dup_recall")

  def layers(tr: Tracer): Map[String, Double] = {
    val inputMb = Option(gen.corpus.listFiles()).toSeq.flatten.map(_.length()).sum / (1024.0 * 1024.0)
    val writtenMb = passS.indices.map(tr.opTotal(_, "bytes_written_mb"))
    Map(
      "TextAnalysis.docs_kept" -> Stats.median(kept.toSeq),
      "Decontamination.docs_flagged" -> Stats.median(flagged.toSeq),
      "Dedup.pairs" -> Stats.median(pairs.toSeq),
      "Dedup.docs_removed" -> Stats.median(removed.toSeq),
      "Sinks.bytes_written_mb" -> Stats.median(writtenMb),
      "Sinks.files_written" -> Stats.median(passS.indices.map(tr.opTotal(_, "files_written"))),
      "Sinks.write_amp" -> Stats.median(writtenMb) / inputMb)
  }
}
