package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** One closed-loop request: the timed parts (ms, by name), the work
  * items it completed, and whether its outputs passed the checks. */
final case class Req(parts: ListMap[String, Double], items: Long, ok: Boolean) {
  def ms: Double = parts.values.sum
}

/** A benchmark workload. The runner calls `setup` several times (each
  * into a fresh directory, so nothing is reused), `warmup` once, then
  * `request` in a closed loop: one client thread, the next request only
  * after the previous one returned. */
trait Workload {
  private val steps = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Times one step of `setup`; the report shows the last set-up's steps. */
  protected def step[T](name: String)(body: => T): T = {
    val (v, ms) = Workload.time(body)
    steps(name) = ms
    v
  }
  def setupSteps: ListMap[String, Double] = ListMap.from(steps)

  def sizes: ListMap[String, Any]
  def setup(rep: Int): Unit
  def warmup(): Unit
  def request(i: Int): Req
  /** True between requests when stopping would leave no unit of work
    * half done (a CDC schedule stops only between cycles). */
  def atBoundary: Boolean = true
  /** Traced runs only, between requests and outside their timing. */
  def sample(): Unit = ()
  /** Traced runs only, after the traced requests. */
  def tracedExtras(): Unit = ()
  /** Checks made once after the loop: (name, passed). */
  def finalChecks(): Seq[(String, Boolean)]
  /** `result_quality` of the run's requests. */
  def quality: Double
  /** The workload's own named metrics for the report. */
  def detail(reqs: Seq[Req]): ListMap[String, Any]
  /** Per-layer metrics only this workload's calls produce. */
  def perLayer(t: Tracer, p: Probe): ListMap[String, Double]
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally walk.close()
  }

  /** (files, bytes) under a directory. */
  def du(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val walk = Files.walk(p)
    try {
      var files = 0L
      var bytes = 0L
      walk.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
      (files, bytes)
    } finally walk.close()
  }

  def vectorFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }
}
