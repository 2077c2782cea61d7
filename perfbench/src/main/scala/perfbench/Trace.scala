package perfbench

import scala.collection.mutable
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` is the id of the client request the
  * call belongs to (0 outside any request); `parent` is the enclosing
  * span (0 for a request's root span). `items` is the number of queries
  * the call answered, where that applies. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long, items: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans around the runner's calls into graft's layers, from the
  * client thread only. While `on` is false every method is a plain call,
  * so untraced runs pay nothing. Spans stay in memory until the run ends. */
final class Tracer {
  @volatile var on: Boolean = false
  val spans = ArrayBuffer.empty[Span]
  /** Per-request values the summary attributes by op id (GC time, the
    * streaming run id of a micro-batch). */
  val opTags = mutable.Map.empty[(Int, String), String]
  private var stack: List[Int] = Nil
  private var lastId = 0
  private var curOp = 0
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** One client request: the root span that every span inside shares
    * its op id with. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      curOp = lastId + 1
      val gc0 = Tracer.gcMs()
      try span("client", name)(body)
      finally {
        opTags((curOp, "gc_ms")) = (Tracer.gcMs() - gc0).toString
        curOp = 0
      }
    }

  def span[T](layer: String, name: String, items: Int = 0)(body: => T): T =
    if (!on) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, layer, name, t0, System.nanoTime(), items)
      }
    }

  def tagOp(key: String, value: String): Unit =
    if (on && curOp != 0) opTags((curOp, key)) = value
}

object Tracer {
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak heap use since JVM start, summed over the heap pools. */
  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

final case class JobRec(startMs: Long, endMs: Long, callsite: String)
final case class TaskRec(launchMs: Long, finishMs: Long, shuffleWrite: Long, spill: Long)
final case class SqlRec(atMs: Long, planningMs: Long, files: Long, rows: Long)
final case class ProgressRec(runId: String, durations: Map[String, Long])

/** Spark-side counters, collected by listeners the runner registers: job
  * and task events, per-action planning phases and scan sizes, and
  * streaming progress. Events are kept only while `tracer.on`. */
final class Probe(tracer: Tracer) {
  private val jobStarts = mutable.Map.empty[Int, (Long, String)]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val sqls = ArrayBuffer.empty[SqlRec]
  val progress = ArrayBuffer.empty[ProgressRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) synchronized {
      // the result stage is named after the job's call site, e.g.
      // "collect at Ivf.scala:1262"
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStarts(e.jobId) = (e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, site) => jobs += JobRec(t0, e.time, site) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.on) synchronized {
      val m = Option(e.taskMetrics)
      tasks += TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    }
  }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(plan: SparkPlan): (Long, Long) = {
      val scans = collectWithSubqueries(plan) { case s: DataSourceScanExec => s }
      def metric(s: DataSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "numOutputRows")).sum)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.on) {
        val phases = qe.tracker.phases.values
        val at = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
        val (files, rows) = Scans.of(qe.executedPlan)
        val rec = SqlRec(at, phases.map(_.durationMs).sum, files, rows)
        synchronized { sqls += rec }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracer.on) {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        synchronized { progress += ProgressRec(e.progress.runId.toString, d) }
      }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}

/** Turns the spans and Spark counters of a traced phase into the
  * per-layer metrics. Spark events are attributed to a request by time:
  * the client is one thread, so requests never overlap. */
object TraceSummary {

  /** Source files whose jobs are attributed by name; others go to `other`. */
  val CallsiteFiles: Seq[String] = Seq("Ivf.scala", "Hnsw.scala", "VectorSearch.scala",
    "MutableStore.scala", "StreamingIngest.scala", "Curation.scala", "Dedup.scala")

  /** The layers the runner calls inside a request, and so the ones with
    * self time: `functions`, `io` and `dedup` run beneath these calls
    * (see `spark.job_ms_by_callsite.*` and the per-stage metrics). */
  val Layers: Seq[String] = Seq("index", "streaming", "text")

  /** The root spans of the traced client requests. */
  private def requests(t: Tracer) = t.spans.filter(s => s.parent == 0 && s.op != 0 && s.name == "request")

  def callsiteFile(site: String): String = {
    val file = site.split(' ').lastOption.getOrElse("").split(':').headOption.getOrElse("")
    if (CallsiteFiles.contains(file)) file else "other"
  }

  /** Length of the union of `[s, e]` intervals clipped to `[lo, hi]`. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def spark(t: Tracer, p: Probe, cores: Int): ListMap[String, Double] = {
    val perOp = requests(t).map { o =>
      val lo = t.epochMs(o.startNs)
      val hi = t.epochMs(o.endNs)
      val js = p.jobs.filter(j => j.startMs >= lo && j.startMs <= hi)
      val ts = p.tasks.filter(x => x.launchMs >= lo && x.launchMs <= hi)
      val qs = p.sqls.filter(q => q.atMs >= lo && q.atMs <= hi)
      val covered = unionMs(js.map(j => (j.startMs.toDouble, j.endMs.toDouble)).toSeq, lo, hi)
      val taskMs = ts.map(x => (x.finishMs - x.launchMs).toDouble).sum
      val bySite = js.groupBy(j => callsiteFile(j.callsite))
        .map { case (f, g) => f -> g.map(j => (j.endMs - j.startMs).toDouble).sum }
      ListMap[String, Double](
        "spark.jobs_per_op" -> js.size.toDouble,
        "spark.tasks_per_op" -> ts.size.toDouble,
        "spark.driver_gap_ms" -> (o.ms - covered),
        "spark.executor_busy_frac" -> taskMs / (o.ms * cores),
        "spark.planning_ms" -> qs.map(_.planningMs.toDouble).sum,
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite.toDouble).sum,
        "spark.spill_bytes" -> ts.map(_.spill.toDouble).sum,
        "spark.gc_ms" -> t.opTags.get((o.op, "gc_ms")).map(_.toDouble).getOrElse(0.0)
      ) ++ (CallsiteFiles :+ "other").map(f =>
        s"spark.job_ms_by_callsite.$f" -> bySite.getOrElse(f, 0.0))
    }
    val keys = perOp.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
    ListMap(keys.map(k => k -> mean(perOp.map(_(k)))): _*)
  }

  /** Self time per layer per request: a span's duration minus the part of
    * its interval its child spans cover. */
  def selfMs(t: Tracer): ListMap[String, Double] = {
    val children = t.spans.groupBy(_.parent)
    val ops = requests(t).map(_.op).toSet
    val self = t.spans.filter(s => ops.contains(s.op)).map { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
        .map(c => (c.startNs / 1e6, c.endNs / 1e6)).toSeq
      s.layer -> (s.ms - unionMs(kids, s.startNs / 1e6, s.endNs / 1e6))
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
    ListMap(Layers.map(l => s"$l.self_ms" -> self.getOrElse(l, 0.0) / math.max(ops.size, 1)): _*)
  }

  /** Mean duration of the spans with this name, and the scan counters of
    * the actions that ran inside them. */
  final case class CallStats(meanMs: Double, filesPerCall: Double, rowsPerItem: Double)

  def call(t: Tracer, p: Probe, name: String): CallStats = {
    val ss = t.spans.filter(s => s.name == name && s.op != 0)
    if (ss.isEmpty) return CallStats(0.0, 0.0, 0.0)
    val scans = ss.map { s =>
      val lo = t.epochMs(s.startNs)
      val hi = t.epochMs(s.endNs)
      val qs = p.sqls.filter(q => q.atMs >= lo && q.atMs <= hi)
      (qs.map(_.files).sum.toDouble, qs.map(_.rows).sum.toDouble)
    }
    val items = ss.map(_.items).sum.toDouble
    CallStats(mean(ss.map(_.ms)), mean(scans.map(_._1)),
      if (items > 0) scans.map(_._2).sum / items else 0.0)
  }

  /** Mean per request of each streaming progress phase, summed over the
    * micro-batches each request ran. */
  def streaming(t: Tracer, p: Probe): ListMap[String, Double] = {
    val runs = t.opTags.collect { case ((op, "run_id"), id) => id -> op }
    val perRun = p.progress.filter(r => runs.contains(r.runId)).groupBy(_.runId).values
      .map(rs => rs.flatMap(_.durations).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
    def phase(k: String) = mean(perRun.map(_.getOrElse(k, 0L).toDouble))
    ListMap(
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.latest_offset_ms" -> phase("latestOffset"))
  }
}
