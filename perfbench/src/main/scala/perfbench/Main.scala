package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark runner: one JVM, one client thread, `local[nproc]`.
  *
  *   perfbench.Main --workload <ann_query|cdc_mutate|corpus_curate>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *     [--scale full|tiny]
  *
  * Prints a report line, then the result line (the last line of stdout).
  * Untraced (`--trace 0`) the result holds the end-to-end metrics; traced,
  * the per-layer metrics. See perfbench/README.md. */
object Main {

  val E2eUnits: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "request_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "result_quality" -> "ratio")

  val PerLayerUnits: ListMap[String, String] = ListMap(
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.driver_gap_ms" -> "ms",
    "spark.executor_busy_frac" -> "ratio",
    "spark.planning_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms") ++
    (TraceSummary.CallsiteFiles :+ "other").map(f => s"spark.job_ms_by_callsite.$f" -> "ms") ++
    TraceSummary.Layers.map(l => s"$l.self_ms" -> "ms") ++ ListMap(
    "index.ivf.probe_ms" -> "ms",
    "index.hnsw.probe_ms" -> "ms",
    "index.ivf.files_scanned_per_batch" -> "count",
    "index.ivf.candidates_per_result" -> "ratio",
    "index.hnsw.candidates_per_result" -> "ratio",
    "functions.exact_pairs_per_s" -> "1/s",
    "streaming.add_batch_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.start_ms" -> "ms",
    "io.state_read_ms" -> "ms",
    "io.size_walk_ms" -> "ms",
    "io.live_legs" -> "count",
    "io.tombstones" -> "count",
    "io.retained_versions" -> "count",
    "io.store_files" -> "count",
    "io.store_bytes" -> "bytes",
    "io.space_amp" -> "ratio",
    "text.gate_ms" -> "ms",
    "dedup.exact_ms" -> "ms",
    "dedup.pairs_ms" -> "ms",
    "dedup.cc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "trace_overhead_frac" -> "ratio")

  /** Set-up runs this many times per run; its median is `setup_s`. */
  private val SetupReps = 3

  private def loadAvg1m(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of the machine from /proc/stat, where present.
    * Steal is CPU time the hypervisor gave to other guests; the load
    * average does not show it, yet it slows a run as much as local load. */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  private def workload(name: String, scale: String, spark: SparkSession, work: Path,
      seed: Long, tracer: Tracer): Workload = (name, scale) match {
    case ("ann_query", "full") => new AnnQuery(spark, work, seed, tracer, n = 4096, nlist = 64)
    case ("ann_query", "tiny") => new AnnQuery(spark, work, seed, tracer, n = 2000, nlist = 16)
    case ("cdc_mutate", "full") => new CdcMutate(spark, work, seed, tracer, n0 = 2048, nlist = 16, batchesPerCycle = 3)
    case ("cdc_mutate", "tiny") => new CdcMutate(spark, work, seed, tracer, n0 = 1000, nlist = 8, batchesPerCycle = 4)
    case ("corpus_curate", "full") => new CorpusCurate(spark, work, seed, tracer, nDocs = 1000)
    case ("corpus_curate", "tiny") => new CorpusCurate(spark, work, seed, tracer, nDocs = 400)
    case _ => throw new IllegalArgumentException(s"unknown workload/scale: $name/$scale")
  }

  /** Closed loop for `seconds`; a workload with multi-request units of
    * work (CDC cycles) runs to the end of the unit it is in. */
  private def loop(w: Workload, tracer: Tracer, seconds: Double, first: Int): Seq[Req] = {
    val reqs = ArrayBuffer.empty[Req]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (reqs.isEmpty || System.nanoTime() < deadline || !w.atBoundary) {
      val i = first + reqs.length
      reqs += (try tracer.op("request")(w.request(i)) catch {
        case e: Exception =>
          System.err.println(s"request $i failed: $e")
          Req(ListMap.empty, 0, ok = false)
      })
      if (tracer.on) w.sample()
    }
    reqs.toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    val scale = opts.getOrElse("scale", "full")
    Files.createDirectories(out)

    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadAvg1m()
    val cpu0 = cpuJiffies()
    val (spark, sessionMs) = Workload.time {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$name")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.SparkEntry.setupSession(s)
      s
    }
    try {
      val tracer = new Tracer
      val probe = new Probe(tracer)
      if (traced) probe.register(spark)
      val w = workload(name, scale, spark, work, seed, tracer)
      val reps = if (scale == "tiny") 1 else SetupReps
      val setupMs = (0 until reps).map(r => Workload.time(w.setup(r))._2)
      val warmupMs = Workload.time(w.warmup())._2
      val loopStart = System.nanoTime()
      val (gc0, jit0) = (Tracer.gcMs(), Tracer.jitMs())

      // traced: the first half untraced, the second traced, so the
      // tracing overhead is measured on the same JVM and inputs
      val untraced = loop(w, tracer, if (traced) seconds / 2 else seconds, 0)
      val tracedReqs = if (!traced) Seq.empty else {
        tracer.on = true
        val rs = loop(w, tracer, seconds / 2, untraced.length)
        w.tracedExtras()
        probe.drain(spark)
        tracer.on = false
        rs
      }
      val reqs = untraced ++ tracedReqs
      val loopMs = (System.nanoTime() - loopStart) / 1e6
      val loopGcMs = Tracer.gcMs() - gc0
      val loopJitMs = Tracer.jitMs() - jit0
      val (checks, checksMs) = Workload.time(w.finalChecks())
      val done = reqs.filter(_.parts.nonEmpty)
      val attempted = reqs.length + checks.length
      val failed = reqs.count(!_.ok) + checks.count(!_._2)
      val setupS = (sessionMs + Stats.median(setupMs)) / 1000

      val metrics: ListMap[String, Double] =
        if (!traced) ListMap(
          "setup_s" -> setupS,
          "request_p50_ms" -> Stats.median(done.map(_.ms)),
          "throughput_per_s" -> done.map(_.items).sum / (done.map(_.ms).sum / 1000),
          "result_quality" -> w.quality)
        else {
          val measured = TraceSummary.spark(tracer, probe, cores) ++ TraceSummary.selfMs(tracer) ++
            w.perLayer(tracer, probe) ++ ListMap(
              "jvm.heap_peak_mb" -> Tracer.heapPeakMb(),
              "trace_overhead_frac" ->
                (Stats.median(tracedReqs.filter(_.parts.nonEmpty).map(_.ms)) /
                  Stats.median(untraced.filter(_.parts.nonEmpty).map(_.ms)) - 1))
          val unknown = measured.keySet -- PerLayerUnits.keySet
          require(unknown.isEmpty, s"per-layer metrics missing from the unit table: $unknown")
          // a layer this workload never calls did no work: zero, not absent
          ListMap(PerLayerUnits.keys.toSeq.map(k => k -> measured.getOrElse(k, 0.0)): _*)
        }
      val units = if (traced) PerLayerUnits else E2eUnits

      val report = ListMap[String, Any](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "scale" -> scale, "nproc" -> cores,
        "loadavg_1m_start" -> load0, "loadavg_1m_end" -> loadAvg1m(),
        "cpu_steal_frac" -> (for ((s0, t0) <- cpu0; (s1, t1) <- cpuJiffies() if t1 > t0)
          yield (s1 - s0).toDouble / (t1 - t0)),
        "sizes" -> w.sizes,
        "setup_ms" -> Stats.summary(setupMs),
        "setup_steps_ms" -> w.setupSteps,
        "phase_ms" -> ListMap("session" -> sessionMs, "setup" -> setupMs.sum, "warmup" -> warmupMs,
          "loop" -> loopMs, "checks" -> checksMs),
        "loop_gc_ms" -> loopGcMs, "loop_jit_ms" -> loopJitMs,
        "request_ms" -> Stats.summary(done.map(_.ms)),
        "request_parts_ms" -> done.map(_.parts),
        "failed_frac" -> failed.toDouble / attempted,
        "checks" -> ListMap(checks: _*)) ++ w.detail(done)
      val traceFile = if (!traced) None else {
        val file = out.resolve(s"trace-$name-seed$seed.json")
        Files.writeString(file, Json.render(ListMap(
          "report" -> report,
          "metrics" -> metrics,
          "spans" -> tracer.spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
            "layer" -> s.layer, "name" -> s.name, "start_ms" -> tracer.epochMs(s.startNs),
            "end_ms" -> tracer.epochMs(s.endNs), "items" -> s.items)),
          "jobs" -> probe.jobs.map(j => ListMap("start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "callsite" -> j.callsite)))))
        Some(file.toString)
      }
      println(Json.render(ListMap("report" -> (report ++ traceFile.map("trace_file" -> _)))))
      println(Json.render(ListMap(
        "correct" -> (failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> metrics.map { case (k, v) => k -> ListMap("value" -> v, "unit" -> units(k)) })))
    } finally spark.stop()
  }
}
