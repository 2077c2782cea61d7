package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.index.Ivf

/** The IVF CDC sink ([[StreamingIngest.streamingIvfMutations]]) as a
  * fixed per-batch job budget: a SparkListener count of one
  * micro-batch's Spark jobs (so the per-batch floor cannot creep back
  * unnoticed), and the sidecar fingerprint the driver-side delete
  * arithmetic maintains, checked against a full recount over a seeded
  * schedule. */
class IvfCdcSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 4

  /** 40 seeded vectors around two far-apart centers. */
  private def corpus: DataFrame = {
    val rng = new scala.util.Random(17)
    (0L until 40L).map { i =>
      val c = if (i % 2 == 0) 0f else 10f
      (i, Seq.fill(dim)(c + rng.nextFloat()))
    }.toDF("vec_id", "embedding")
  }

  private def vec(id: Long): Seq[Float] = {
    val rng = new scala.util.Random(id)
    Seq.fill(dim)((if (id % 2 == 0) 0f else 10f) + rng.nextFloat())
  }

  private def op(o: String)(ids: Long*): DataFrame =
    ids.map(id => (o, id, vec(id))).toDF("op", "vec_id", "embedding")

  private def freshLayout(name: String): Ivf.Layout = {
    val root = java.nio.file.Files.createTempDirectory(name).toString
    Ivf.buildLayout(spark, corpus, s"$root/layout", nlist = 2, maxIter = 5)
  }

  /** One file per batch, so `maxFilesPerTrigger = 1` replays them in order. */
  private def land(inDir: String, batches: Seq[DataFrame]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(inDir)
    }

  private def runSink(layout: Ivf.Layout, inDir: String, chk: String,
      maxDeltaDirs: Int): Seq[Long] = {
    val q = StreamingIngest.streamingIvfMutations(
      spark.readStream.schema(op("add")(0L).schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      layout.dir, chk, maxDeltaDirs = maxDeltaDirs, compactBytesRatio = 1e9)
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchId)
  }

  test("one micro-batch with adds and deletes over a live delta and tombstone runs a fixed job budget") {
    val layout = freshLayout("ivfbudget")
    val root = new java.io.File(layout.dir).getParent
    Ivf.appendDelta(layout, op("add")(200L, 201L).drop("op"), "pre")
    assert(Ivf.deleteFromLayout(layout, Seq(7L).toDF("vec_id"), tag = "pre_del") == 1L)
    // adds, a base delete, a delta-resident delete and a same-batch net-out
    land(s"$root/in", Seq(op("add")(300L to 307L: _*)
      .unionAll(op("del")(1L, 200L, 307L))))

    val sites = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = sites.synchronized {
        sites += (if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      }
    }
    val marker = "budget marker"
    spark.sparkContext.addSparkListener(listener)
    try {
      runSink(layout, s"$root/in", s"$root/chk", maxDeltaDirs = 16)
      // listener events arrive in order: once the marker job is seen,
      // every job of the batch has been counted
      graft.io.MutableStore.withCallSite(spark, marker) {
        spark.sparkContext.parallelize(Seq(1), 1).count()
      }
      val deadline = System.currentTimeMillis() + 30000
      while (sites.synchronized(!sites.contains(marker)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.sparkContext.removeSparkListener(listener)

    val batchJobs = sites.synchronized(sites.takeWhile(_ != marker).toList)
    assert(batchJobs.nonEmpty && sites.contains(marker))
    info(s"${batchJobs.size} Spark jobs: ${batchJobs.mkString("; ")}")
    // measured: 6 (the id pass, appendDelta's materialization, mask
    // guard and write, deleteFromLayout's lookup and tombstone write)
    assert(batchJobs.size <= 7,
      s"the CDC micro-batch ran ${batchJobs.size} Spark jobs, budget 7:\n${batchJobs.mkString("\n")}")
    // every store job is named after its primitive
    val named = batchJobs.filter(_.endsWith("at Ivf.scala")).toSet
    assert(named == Set("appendDelta at Ivf.scala", "deleteFromLayout at Ivf.scala"),
      s"store jobs must carry their primitive's call site: $batchJobs")

    val got = Ivf.layoutRows(spark, Ivf.loadLayout(layout.dir))
      .select("vec_id").as[Long].collect().toSet
    val want = (0L until 40L).toSet -- Set(1L, 7L) ++ Set(201L) ++ (300L to 306L)
    assert(got == want, s"live ids after the batch: ${got -- want} extra, ${want -- got} missing")
  }

  test("sidecar count/hash/hsum equal a recount of the live base rows after a seeded schedule") {
    val layout = freshLayout("ivfsidecar")
    val root = new java.io.File(layout.dir).getParent
    val batches = Seq(
      // b0: adds + a delete of a base id
      op("add")(100L, 101L, 102L, 103L, 104L).unionAll(op("del")(3L)),
      // b1: a delete of a delta-resident id, a same-batch add+delete
      // net-out and a phantom delete
      op("add")(105L, 106L, 107L).unionAll(op("del")(101L, 107L, 9999L)),
      // b2: two live deltas at its start, so it compacts first
      op("add")(108L).unionAll(op("del")(5L, 104L)))
    land(s"$root/in", batches)
    assert(runSink(layout, s"$root/in", s"$root/chk", maxDeltaDirs = 2) == Seq(0L, 1L, 2L))
    assert(Ivf.deltaDirCount(layout) == 1, "b2 must have folded b0 and b1")
    // at-least-once redelivery: drop b2's commit mark, so the restarted
    // query re-runs b2 under the same tag
    Seq("2", ".2.crc").foreach(f =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(root, "chk", "commits", f)))
    assert(runSink(layout, s"$root/in", s"$root/chk", maxDeltaDirs = 2) == Seq(2L))

    val live = Ivf.layoutRows(spark, layout)
    val liveIds = live.select("vec_id").as[Long].collect()
    val want = (0L until 40L).toSet -- Set(3L, 5L) ++
      Set(100L, 102L, 103L, 105L, 106L, 108L)
    assert(liveIds.length == want.size && liveIds.toSet == want,
      s"live ids: ${liveIds.toSeq.sorted}")
    // the sidecar attests the live BASE rows: everything live but the
    // one unfolded delta (b2's)
    val delta = Ivf.deltaRows(spark, layout).get.select("vec_id")
    val (n, h, sum) = graft.io.Artifact.hashAgg(
      live.join(delta, Seq("vec_id"), "left_anti"), xxhash64(col("embedding")))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(layout.dir, "_centroids.json")))
    assert(n == want.size - 1)
    assert((node.get("count").asLong(), node.get("hash").asLong(), node.get("hsum").asText()) ==
      ((n, h, sum)), "sidecar must equal the recount of the live base rows")
  }
}
