package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Seeded generator for `corpus_curation`: a `documents`-schema parquet
  * corpus and a generated benchmark set to decontaminate against.
  *
  * Text is Zipf(1.0) over a vocabulary of 30 000 words headed by common
  * English function words. Planted into it:
  *  - near-duplicate clusters: an original plus 1-3 copies, each copy with
  *    2% of its words deleted (so the original stays the longest member,
  *    the one `Dedup.resolveClusters` keeps);
  *  - documents that fail the Gopher rules: too short, or one token in
  *    five a `#` symbol;
  *  - documents carrying a 30-word passage of a benchmark item.
  * Every other document is regenerated until it passes the Gopher rules
  * with a margin, so a gate verdict never hinges on a threshold.
  *
  * The expected answers (which ids fail the gate, which are planted
  * copies, which are contaminated) come from the construction, not from
  * engine code; they are also written to `expected.json`. */
object CurationGen {
  final case class Output(corpus: File, benchmark: File, docs: Int,
                          gateFail: Set[Long], copies: Set[Long],
                          contaminated: Set[Long])

  private val Head = Seq("the", "of", "and", "to", "in", "that", "is", "was",
    "for", "with", "as", "on", "have", "be", "by", "at", "this", "from",
    "it", "are")
  private val GopherStopwords = Set("the", "be", "to", "of", "and", "that", "have", "with")
  private val Docs = 2000
  private val VocabSize = 30000

  def apply(spark: SparkSession, seed: Long, dir: File): Output = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet[String](Head: _*)
      while (seen.size < VocabSize)
        seen += Array.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
      seen.toArray
    }
    val cdf = {
      val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
    }
    def words(n: Int): Array[String] = Array.fill(n)(word())
    // Gopher rules with a margin: 60+ words, mean length in [3.3, 9],
    // 3+ distinct stop words, no token above 15% of the document
    def clearlyPasses(ws: Array[String]): Boolean = {
      val mean = ws.map(_.length).sum.toDouble / ws.length
      ws.length >= 60 && mean >= 3.3 && mean <= 9 &&
        ws.toSet.count(GopherStopwords) >= 3 &&
        ws.groupBy(identity).values.map(_.length).max * 100 <= 15 * ws.length
    }
    def passing(): Array[String] = {
      var ws = words(120 + rng.nextInt(161))
      while (!clearlyPasses(ws)) ws = words(120 + rng.nextInt(161))
      ws
    }

    val bench = Array.fill(300)(words(60))
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val gateFail, copies, contaminated = mutable.Set.empty[Long]
    while (texts.size < Docs) {
      val id = texts.size.toLong
      rng.nextInt(100) match {
        case u if u < 2 =>
          gateFail += id
          texts += (if (u == 0) words(10 + rng.nextInt(30))
            else passing().map(w => if (rng.nextInt(5) == 0) "#" else w))
        case 2 =>
          val b = bench(rng.nextInt(bench.length))
          val at = rng.nextInt(b.length - 30)
          var ws: Array[String] = null
          do {
            val host = passing()
            val pos = rng.nextInt(host.length)
            ws = host.take(pos) ++ b.slice(at, at + 30) ++ host.drop(pos)
          } while (!clearlyPasses(ws))
          contaminated += id
          texts += ws
        case u if u < 5 =>
          val orig = passing()
          texts += orig
          for (_ <- 0 until 1 + rng.nextInt(3) if texts.size < Docs) {
            val drop = math.max(1, orig.length / 50)
            val gone = mutable.Set.empty[Int]
            while (gone.size < drop) gone += rng.nextInt(orig.length)
            copies += texts.size.toLong
            texts += orig.indices.filterNot(gone).map(orig).toArray
          }
        case _ => texts += passing()
      }
    }

    import spark.implicits._
    val corpus = new File(dir, "documents.parquet")
    val sources = Seq("web", "news", "forum", "books")
    spark.sparkContext.parallelize(texts.toSeq.zipWithIndex.map { case (ws, i) =>
      val t = ws.mkString(" ")
      (i.toLong, t, "en", sources(i % sources.size), t.length.toLong)
    }, 8).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(corpus.getPath)
    val benchmark = new File(dir, "benchmark.parquet")
    spark.sparkContext.parallelize(bench.toSeq.zipWithIndex.map { case (ws, i) =>
      (i.toLong, ws.mkString(" "))
    }, 1).toDF("doc_id", "text").write.mode("overwrite").parquet(benchmark.getPath)

    val exp = Json.obj().put("seed", seed).put("docs", Docs)
    Seq("gate_fail_ids" -> gateFail, "planted_duplicate_ids" -> copies,
      "contaminated_ids" -> contaminated).foreach { case (k, ids) =>
      ids.toSeq.sorted.foreach(exp.putArray(k).add(_)) }
    Json.write(new File(dir, "expected.json"), exp)
    Output(corpus, benchmark, Docs, gateFail.toSet, copies.toSet, contaminated.toSet)
  }
}
