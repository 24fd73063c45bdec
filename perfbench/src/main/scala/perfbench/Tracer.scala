package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: a call into a layer, an op, or the
  * set-up. `op` is the op index, -1 for set-up. Times are on the
  * `System.nanoTime` scale. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def contains(t: Long): Boolean = t >= startNs && t <= endNs
}

/** Spans plus the Spark counters that fall inside them.
  *
  * Disabled (the untraced runs), `span` only runs its body: no listener is
  * registered and nothing is recorded. Enabled, it records every span in
  * memory and registers a `SparkListener` (jobs, tasks), a
  * `QueryExecutionListener` (optimizer and planning phases, write metrics)
  * and a `StreamingQueryListener` (trigger phases, state rows). Each event
  * is attributed to the innermost span whose interval holds its timestamp.
  * That is valid because the harness runs one op at a time, so every Spark
  * event inside a span's interval was caused by that span's call. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  // epoch-millisecond event times mapped onto the nanoTime scale
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def fromEpochMs(ms: Long): Long = (ms - wall0Ms) * 1000000L + nano0

  private final case class Job(startNs: Long, var endNs: Long)
  private final case class Task(atNs: Long, cpuNs: Long, shuffleBytes: Long,
                                spillBytes: Long, outBytes: Long, failed: Boolean)
  private final case class Query(atNs: Long, optimizerMs: Long,
                                 planningMs: Long, outFiles: Long)
  private final case class Progress(atNs: Long, phasesMs: Map[String, Long],
                                    inputRows: Long, stateRows: Long,
                                    dropped: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val streamStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  // read and written only on the listener bus thread
  @volatile private var lastJobEndNs = Long.MinValue
  private val trackerSeen = new java.util.IdentityHashMap[AnyRef, (Long, Long)]()

  def span[A](name: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(fromEpochMs(e.time), Long.MaxValue))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        lastJobEndNs = fromEpochMs(e.time)
        Option(jobs.get(e.jobId)).foreach(_.endNs = lastJobEndNs)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = Option(e.taskMetrics)
        tasks.add(Task(fromEpochMs(e.taskInfo.finishTime),
          m.map(_.executorCpuTime).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(_.diskBytesSpilled).getOrElse(0L),
          m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
          e.reason != Success))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = record(qe, durationNs)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = record(qe, 0L)
    })
    spark.streams.addListener(new StreamingQueryListener {
      // called synchronously on the thread that starts the query
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streamStarts.add(System.nanoTime())
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(
          fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** A finished query execution. It is placed at the later of its own
    * start and the end of the last job the bus delivered before it: the
    * bus delivers a query's jobs before the query, and its own start is
    * only known from the callback's time less the query's duration.
    * A write shares the tracker of the DataFrame it writes, and Spark
    * merges a phase measured twice into one interval, so each tracker is
    * counted once, by what its phases grew since it was last seen. */
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val at = math.max(lastJobEndNs, System.nanoTime() - durationNs)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val (opt0, plan0) = Option(trackerSeen.get(qe.tracker)).getOrElse((0L, 0L))
    trackerSeen.put(qe.tracker, (ms("optimization"), ms("planning")))
    var files = 0L
    qe.executedPlan.foreach(_.metrics.get("numFiles").foreach(files += _.value))
    queries.add(Query(at, ms("optimization") - opt0, ms("planning") - plan0, files))
  }

  /** Innermost recorded span holding `t`, if any. */
  private def owner(t: Long): Option[Span] = {
    var best: Span = null
    spans.foreach { s =>
      if (s.endNs >= 0 && s.contains(t) && (best == null || s.startNs >= best.startNs))
        best = s
    }
    Option(best)
  }

  /** Counters per span id. Requires the listener bus to be drained. */
  private lazy val counters: Map[Int, Map[String, Double]] = {
    val acc = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Map[String, Double]]
    def add(t: Long, kv: (String, Double)*): Unit =
      owner(t).foreach { s =>
        val m = acc.getOrElseUpdate(s.id, scala.collection.mutable.Map.empty)
        kv.foreach { case (k, v) => m(k) = m.getOrElse(k, 0.0) + v }
      }
    val mb = 1024.0 * 1024.0
    jobs.values.asScala.foreach(j => add(j.startNs, "jobs" -> 1))
    tasks.asScala.foreach(t => add(t.atNs, "task_cpu_s" -> t.cpuNs / 1e9,
      "shuffle_write_mb" -> t.shuffleBytes / mb, "spill_mb" -> t.spillBytes / mb,
      "bytes_written_mb" -> t.outBytes / mb, "tasks_failed" -> (if (t.failed) 1 else 0)))
    queries.asScala.foreach(q => add(q.atNs, "optimizer_ms" -> q.optimizerMs.toDouble,
      "planning_ms" -> q.planningMs.toDouble, "files_written" -> q.outFiles.toDouble))
    progress.asScala.foreach { p =>
      add(p.atNs, Seq("triggers" -> 1.0, "input_rows" -> p.inputRows.toDouble,
        "rows_dropped_by_watermark" -> p.dropped.toDouble) ++
        Tracer.StreamPhases.map(ph => s"${ph}_ms" -> p.phasesMs.getOrElse(ph, 0L).toDouble): _*)
    }
    // state rows are a level, not a flow: the last progress in the span
    progress.asScala.toSeq.sortBy(_.atNs).foreach { p =>
      owner(p.atNs).foreach(s => acc(s.id)("state_rows") = p.stateRows.toDouble)
    }
    streamStarts.asScala.foreach { t =>
      owner(t).foreach { s =>
        acc.getOrElseUpdate(s.id, scala.collection.mutable.Map.empty)("start_ms") =
          (t - s.startNs) / 1e6
      }
    }
    spans.map { s =>
      val m = acc.getOrElse(s.id, scala.collection.mutable.Map.empty[String, Double])
      val wall = (s.endNs - s.startNs) / 1e9
      s.id -> (m.toMap ++ Map("wall_s" -> wall,
        "driver_gap_s" -> (wall - jobCoverage(s) / 1e9),
        "self_s" -> (wall - childCoverage(s) / 1e9)))
    }.toMap
  }

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
  private def clipped(s: Span, iv: Iterable[(Long, Long)]): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      .filter { case (a, b) => b > a }.toSeq
  private def jobCoverage(s: Span): Long =
    union(clipped(s, jobs.values.asScala.map(j => (j.startNs, j.endNs))))
  private def childCoverage(s: Span): Long =
    union(clipped(s, spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))))

  /** Drain the listener bus; call once, after the last op. */
  def finish(spark: SparkSession): Unit =
    if (enabled) PerfbenchBus.drain(spark.sparkContext)

  /** Counter values of every occurrence of span `name` inside an op
    * (set-up spans too when `inSetup`). */
  def occurrences(name: String, inSetup: Boolean = false): Seq[Map[String, Double]] =
    spans.filter(s => s.name == name && (s.op >= 0 || inSetup))
      .map(s => counters(s.id)).toSeq

  /** `counter` of span `name` in op `op`; 0 when either is missing. */
  def counter(name: String, op: Int, counter: String): Double =
    spans.find(s => s.name == name && s.op == op)
      .flatMap(s => counters(s.id).get(counter)).getOrElse(0.0)

  /** Sum of `counter` over every span of op `op`. */
  def opTotal(op: Int, counter: String): Double =
    spans.filter(_.op == op).map(s => counters(s.id).getOrElse(counter, 0.0)).sum

  /** Adds the spans to `out`, times in seconds since tracer start. */
  def writeSpans(out: ArrayNode): Unit = spans.foreach { s =>
    val o = out.addObject().put("id", s.id).put("name", s.name)
      .put("parent", s.parent).put("op", s.op)
      .put("start_s", (s.startNs - nano0) / 1e9).put("end_s", (s.endNs - nano0) / 1e9)
    counters(s.id).toSeq.sortBy(_._1).foreach { case (k, v) => Json.num(o, k, v) }
  }
}

object Tracer {
  /** Trigger phases a `StreamingQueryProgress` reports in `durationMs`. */
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

  /** The nine counters every layer span carries. */
  val SpanCounters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "driver_gap_s" -> "s",
    "optimizer_ms" -> "ms", "planning_ms" -> "ms", "task_cpu_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "tasks_failed" -> "count")
}
