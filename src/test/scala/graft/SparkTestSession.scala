package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert
import org.scalatest.Informer

/** One shared local session for all suites (sbt runs suites in one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` under the session state [[SparkEntry.setupSession]]
    * sets, then puts back the shared session's defaults: TopKRewriteSpec's
    * baseline assertions need the rewrite off, and the other suites run
    * at Spark's own partition floor. */
  def withSetupSession[T](body: => T): T =
    try { SparkEntry.setupSession(spark); body }
    finally {
      spark.conf.set(org.apache.spark.sql.graft.TopKWindowRewrite.ConfKey, "false")
      spark.conf.unset(SparkEntry.MinPartitionSizeKey)
    }

  /** The call-site names of the Spark jobs `run` starts, in order,
    * counted by a SparkListener and reported through `info`. */
  def jobsOf(info: Informer)(run: => Unit): List[String] = {
    val sites = ArrayBuffer.empty[String]
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.synchronized {
        sites += (if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      }
    })(run)
    val jobs = sites.synchronized(sites.takeWhile(_ != Marker).toList)
    assert(jobs.nonEmpty)
    info(s"${jobs.size} Spark jobs: ${jobs.mkString("; ")}")
    jobs
  }

  /** The number of Spark tasks in the stages `run` completes. */
  def tasksOf(run: => Unit): Int = {
    val n = new AtomicInteger
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.name != Marker) n.addAndGet(e.stageInfo.numTasks)
    })(run)
    n.get
  }

  private val Marker = "listener marker"

  /** Runs `run` with `listener` registered, and returns once the
    * listener has seen every event of `run`. */
  private def listening(listener: SparkListener)(run: => Unit): Unit = {
    val seen = new CountDownLatch(1)
    val watch = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name == Marker)) seen.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addSparkListener(watch)
    try {
      run
      // listener events arrive in order: once the marker job's start
      // is seen, every event of `run` has been delivered
      graft.io.MutableStore.withCallSite(spark, Marker) {
        spark.sparkContext.parallelize(Seq(1), 1).count()
      }
      assert(seen.await(30, TimeUnit.SECONDS), "the listener bus did not drain")
    } finally {
      spark.sparkContext.removeSparkListener(watch)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
