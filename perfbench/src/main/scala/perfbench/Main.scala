package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** Runs one workload in this JVM and prints its result.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir> --stamp <build>`
  *
  * One client, closed loop: ops run one after another until `--seconds`
  * have passed since the first op (and at least the workload's `minOps`
  * have run). The last stdout line is the JSON result; the lines before
  * it are the human-readable report. */
object Main {
  private val SetupReps = 3
  /** Stop starting ops after this many seconds of process time, so the
    * run ends well inside its 180 s limit. */
  private val HardStopS = 140.0

  val Workloads: Seq[String] = Seq("news_monthly", "corpus_curation", "vector_search")

  val LayerSpans: Seq[String] = Seq(
    "GraftSession.start", "StreamingIngest.run", "Serve.train", "Serve.validate",
    "Serve.test", "TextAnalysis.gates", "Decontamination.flag",
    "Dedup.minhashLshPairsAuto", "Dedup.resolveClusters",
    "Similarity.buildIvfIndex", "Similarity.ivfTopKWithIndex")

  /** Module-specific per-layer metrics and their units. */
  val ModuleMetrics: Seq[(String, String)] =
    Seq("StreamingIngest.triggers" -> "count", "StreamingIngest.start_ms" -> "ms") ++
      Tracer.StreamPhases.map(p => s"StreamingIngest.${p}_ms" -> "ms") ++
      Seq("StreamingIngest.input_rows" -> "count", "StreamingIngest.state_rows" -> "count",
        "StreamingIngest.rows_dropped_by_watermark" -> "count",
        "Ingest.rows_committed" -> "count", "Ingest.keep_ratio" -> "ratio",
        "Sinks.bytes_written_mb" -> "MB", "Sinks.files_written" -> "count",
        "Sinks.write_amp" -> "ratio", "TextAnalysis.docs_kept" -> "count",
        "Decontamination.docs_flagged" -> "count", "Dedup.pairs" -> "count",
        "Dedup.docs_removed" -> "count", "BlockManager.retained_storage_mb" -> "MB",
        "jvm.gc_s" -> "s")

  def main(args: Array[String]): Unit = {
    // generated CSV numerics must not pick up a locale's decimal comma
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    val stamp = opts("stamp")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(traced)
    // the session Verify and Serve use; scratch and warehouse stay in the
    // run's own directory
    val spark = tracer.span("GraftSession.start", -1) {
      GraftSession.builder(s"local[$cpus]", cpus.toString)
        .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    tracer.install(spark)
    val sessionReadyS = sinceStart

    val ctx = Ctx(spark, tracer, seed, work)
    val w: Workload = workload match {
      case "news_monthly" => new NewsMonthly(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case "vector_search" => new VectorSearch(ctx)
    }
    val g0 = System.nanoTime()
    w.generate()
    val generateS = (System.nanoTime() - g0) / 1e9
    val setupReps = (0 until SetupReps).map(r => tracer.span("setup", -1)(w.setup(r)))
    val setupS = sessionReadyS + Stats.median(setupReps)

    def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    def storageMb: Double = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => (max - remaining).toDouble }.sum / (1024.0 * 1024.0)

    var attempted = 0
    var failed = 0
    val gcPerOp = scala.collection.mutable.ArrayBuffer.empty[Double]
    val storagePerOp = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    def loopS = (System.nanoTime() - loop0) / 1e9
    while (w.hasNext && sinceStart < HardStopS &&
      (attempted < w.minOps || loopS < seconds)) {
      val i = attempted
      val gc0 = gcSeconds
      val ok =
        try tracer.span("op", i)(w.op(i))
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op $i failed: $e")
          false
        }
      gcPerOp += gcSeconds - gc0
      storagePerOp += storageMb
      attempted += 1
      if (!ok) failed += 1
    }
    tracer.finish(spark)
    val peakRssMb = peakRss()

    val report = Seq(
      Metric("setup_s", "s", setupS, SetupReps),
      Metric("generate_s", "s", generateS, 1),
      Metric("fail_ratio", "ratio", if (attempted == 0) 1.0 else failed.toDouble / attempted, attempted),
      Metric("peak_rss_mb", "MB", peakRssMb, 1)) ++ w.report
    report.foreach(m => println(f"[perfbench] $workload%-16s ${m.name}%-26s ${m.value.toString}%22s ${m.unit}%-7s n=${m.n}"))
    val e2e = endToEnd(report, w.roles)

    out.mkdirs()
    // untraced figures are kept per workload, seed and build, so that a
    // traced run of the same three can report its tracing overhead
    val e2eFile = new File(out, s"e2e_${workload}_$seed.json")
    val metrics =
      if (!traced) {
        val saved = Json.obj().put("stamp", stamp)
        val values = saved.putObject("metrics")
        e2e.foreach(m => Json.num(values, m.name, m.value))
        Json.write(e2eFile, saved)
        e2e
      } else {
        val layers = layerMetrics(tracer, w, gcPerOp.toSeq, storagePerOp.toSeq)
        val base = Some(e2eFile).filter(_.exists()).map(Json.mapper.readTree)
          .filter(_.path("stamp").asText() == stamp).map(_.path("metrics"))
        val overhead = base.toSeq.flatMap(b => e2e.collect {
          case m if b.path(m.name).isNumber => m -> (m.value - b.get(m.name).asDouble())
        })
        if (base.isEmpty)
          println(s"[perfbench] tracing overhead: no untraced $workload run with seed $seed " +
            s"of this build in ${out.getName}/ to compare with")
        overhead.foreach { case (m, d) =>
          println(f"[perfbench] tracing overhead ${m.name}%-22s ${d.toString}%22s ${m.unit}") }
        val traceFile = new File(out, s"trace_${workload}_$seed.json")
        val trace = Json.obj().put("workload", workload).put("seed", seed)
        val tracedE2e = trace.putObject("end_to_end_traced")
        e2e.foreach(m => Json.num(tracedE2e, m.name, m.value))
        val over = trace.putObject("tracing_overhead")
        overhead.foreach { case (m, d) => Json.num(over, m.name, d) }
        val perLayer = trace.putObject("per_layer")
        layers.foreach(m => Json.num(perLayer, m.name, m.value))
        tracer.writeSpans(trace.putArray("spans"))
        Json.write(traceFile, trace)
        println(s"[perfbench] spans and per-layer metrics written to ${out.getName}/${traceFile.getName}")
        layers
      }
    val correct = attempted > 0 && failed == 0 && w.setupOk
    println(resultLine(correct, attempted, failed, metrics))
    System.out.flush()
    w.close()
    spark.stop()
  }

  /** The gated end-to-end metrics, taken from the report: `setup_s` and
    * `peak_rss_mb` as they are, and each generic slot from the figure the
    * workload's `roles` name for it. */
  def endToEnd(report: Seq[Metric], roles: Seq[(String, String)]): Seq[Metric] = {
    val byName = report.map(m => m.name -> m).toMap
    (Seq("setup_s" -> "setup_s", "peak_rss_mb" -> "peak_rss_mb") ++ roles)
      .map { case (slot, name) => byName(name).copy(name = slot) }.sortBy(_.name)
  }

  /** The last stdout line: `{"correct", "attempted", "failed", "metrics"}`. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val r = Json.obj().put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = r.putObject("metrics")
    metrics.foreach(m => Json.num(ms.putObject(m.name), "value", m.value).put("unit", m.unit))
    Json.mapper.writeValueAsString(r)
  }

  /** Every per-layer metric; a layer this workload does not call reads 0. */
  private def layerMetrics(tr: Tracer, w: Workload, gcPerOp: Seq[Double],
                           storagePerOp: Seq[Double]): Seq[Metric] = {
    val spanMetrics = for {
      span <- LayerSpans
      occ = tr.occurrences(span, inSetup = span == "GraftSession.start")
      (counter, unit) <- Tracer.SpanCounters
    } yield {
      val vs = occ.map(_.getOrElse(counter, 0.0))
      Metric(s"$span.$counter", unit, if (vs.isEmpty) 0.0 else Stats.median(vs), vs.size)
    }
    val module = w.layers(tr) ++ Map(
      "BlockManager.retained_storage_mb" -> Stats.median(storagePerOp),
      "jvm.gc_s" -> Stats.median(gcPerOp))
    spanMetrics ++ ModuleMetrics.map { case (name, unit) =>
      val v = module.getOrElse(name, 0.0)
      Metric(name, unit, if (v.isNaN) 0.0 else v, 1)
    }
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRss(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
