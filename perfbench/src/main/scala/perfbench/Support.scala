package perfbench

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** A reported figure: name, unit, value and the number of samples the
  * value summarizes. */
final case class Metric(name: String, unit: String, value: Double, n: Int)

/** What a workload needs from the harness. `work` is this run's scratch
  * directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: File) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** One benchmark workload, driven by [[Main]]. */
trait Workload {
  /** Writes the seeded inputs and keeps the expected answers. Its time is
    * not part of `setup_s`. */
  def generate(): Unit
  /** Brings the system to the state a user's first op starts from and
    * returns the seconds that took, without the checks that follow it.
    * Runs several times; the last repetition's state serves the ops. */
  def setup(rep: Int): Double
  /** False once the generated inputs are used up. */
  def hasNext: Boolean
  /** Runs op `i` and checks its output; false or a throw counts it failed. */
  def op(i: Int): Boolean
  /** Workload-specific end-to-end figures under the names the doc uses. */
  def report: Seq[Metric]
  /** Which `report` figure fills each generic gated slot, `op_p50_s` and
    * `quality` (see perfbench/README.md for what each means per workload). */
  def roles: Seq[(String, String)]
  /** Module-specific per-layer metrics (traced run). */
  def layers(tr: Tracer): Map[String, Double]
  /** Ops that must run even when `--seconds` has elapsed. */
  def minOps: Int
  /** False when a set-up repetition produced a wrong state. */
  def setupOk: Boolean
  /** Releases what the workload started outside Spark (a server). */
  def close(): Unit = ()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** JSON output through Jackson, which Spark already puts on the classpath. */
object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  /** Puts a figure; NaN (a figure without samples) is written as null. */
  def num(o: ObjectNode, k: String, d: Double): ObjectNode =
    if (d.isNaN || d.isInfinite) o.putNull(k) else o.put(k, d)
  def write(f: File, node: JsonNode): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, node)
}

object LocalFiles {
  /** Moves `src` into `dir` the way an uploader lands a file: copied
    * under a hidden name, then renamed, so a file listing never sees a
    * partial file. */
  def land(src: File, dir: File): File = {
    val tmp = new File(dir, "." + src.getName + ".tmp")
    Files.copy(src.toPath, tmp.toPath)
    val dst = new File(dir, src.getName)
    Files.move(tmp.toPath, dst.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dst
  }
}
