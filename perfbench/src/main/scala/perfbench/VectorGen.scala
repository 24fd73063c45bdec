package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded generator for `vector_search`: an `embeddings`-schema corpus of
  * 64-d vectors and a pool of query batches, both drawn from one Gaussian
  * mixture of 200 equally likely components (uniform vectors would make an
  * inverted-file index meaningless). Query ids are disjoint from corpus
  * ids.
  *
  * The exact top-10 by cosine (ties to the smaller id) of the first
  * `SampledPerBatch` queries of every batch is computed here, in plain
  * Scala without engine code; it is the yardstick for recall@10 and is
  * also written to `expected.json`. */
object VectorGen {
  final case class Output(corpus: File, queries: File, n: Int, batches: Int,
                          truth: Map[Long, Array[Long]])

  val Dim = 64
  val K = 10
  val QueryIdBase = 1000000000L
  val BatchSize = 32
  private val N = 6000
  private val Components = 200
  private val Batches = 32
  private val SampledPerBatch = 16

  def apply(spark: SparkSession, seed: Long, dir: File): Output = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    val centers = Array.fill(Components, Dim)(rng.nextGaussian().toFloat)
    def draw(): (Int, Array[Float]) = {
      val c = rng.nextInt(Components)
      (c, Array.tabulate(Dim)(d => (centers(c)(d) + rng.nextGaussian()).toFloat))
    }
    val corpus = Array.fill(N)(draw())
    val nq = Batches * BatchSize
    val queries = Array.fill(nq)(draw())

    import spark.implicits._
    val corpusDir = new File(dir, "embeddings.parquet")
    spark.sparkContext.parallelize(corpus.toSeq.zipWithIndex.map { case ((c, v), i) =>
      (i.toLong, v, c)
    }, 8).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(corpusDir.getPath)
    val queryDir = new File(dir, "queries.parquet")
    spark.sparkContext.parallelize(queries.toSeq.zipWithIndex.map { case ((c, v), i) =>
      (QueryIdBase + i, v, c, i / BatchSize)
    }, 2).toDF("vec_id", "embedding", "label", "batch")
      .write.mode("overwrite").parquet(queryDir.getPath)

    // exact cosine top-10 for the sampled queries, in parallel threads
    val flat = new Array[Double](N * Dim)
    for (i <- 0 until N) {
      val v = corpus(i)._2
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      for (d <- 0 until Dim) flat(i * Dim + d) = v(d) / norm
    }
    val sampled = (0 until nq).filter(_ % BatchSize < SampledPerBatch).toArray
    val tops = new Array[Array[Long]](sampled.length)
    java.util.stream.IntStream.range(0, sampled.length).parallel().forEach { s =>
      val q = queries(sampled(s))._2
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      val qd = q.map(_ / qn)
      val best = Array.fill(K)(-1)
      val score = Array.fill(K)(Double.NegativeInfinity)
      for (i <- 0 until N) {
        var dot = 0.0
        var d = 0
        while (d < Dim) { dot += qd(d) * flat(i * Dim + d); d += 1 }
        if (dot > score(K - 1)) {
          var j = K - 1
          while (j > 0 && dot > score(j - 1)) {
            score(j) = score(j - 1); best(j) = best(j - 1); j -= 1
          }
          score(j) = dot; best(j) = i
        }
      }
      tops(s) = best.map(_.toLong)
    }
    val truth = sampled.indices.map(s => (QueryIdBase + sampled(s)) -> tops(s)).toMap
    val exp = Json.obj().put("seed", seed).put("corpus", N).put("query_batches", Batches)
    val top10 = exp.putObject("exact_top10")
    truth.toSeq.sortBy(_._1).foreach { case (q, ids) =>
      ids.foreach(top10.putArray(q.toString).add(_)) }
    Json.write(new File(dir, "expected.json"), exp)
    Output(corpusDir, queryDir, N, Batches, truth)
  }
}
