package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.io.MutableStore

/** The size-ratio compaction policy (r13 VERDICT task 2): the
  * streaming legs fold deltas when their BYTES reach a fixed fraction
  * of the base — so per-fold IO is proportional to the folded delta
  * bytes — and fall back to the delta-COUNT cap only as the probe
  * fan-out bound. Pinned on the SQ8 leg (all six legs share one
  * `shouldCompact`). */
class CompactionPolicySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 8
  private def vecs(ids: Range): org.apache.spark.sql.DataFrame = {
    val rng = new scala.util.Random(7)
    ids.map(i => (i.toLong, Array.fill(dim)(rng.nextFloat()))).toDF("vec_id", "embedding")
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def runStream(dir: String, batches: Seq[org.apache.spark.sql.DataFrame],
      maxDeltaDirs: Int, ratio: Double): Unit = {
    val scratch = tmp("cps_in")
    batches.head.coalesce(1).write.mode("overwrite").parquet(s"$scratch/in")
    batches.tail.foreach(_.coalesce(1).write.mode("append").parquet(s"$scratch/in"))
    val stream = spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$scratch/in")
    val q = StreamingIngest.streamingSq8Append(stream, dir, s"$scratch/chk",
      maxDeltaDirs = maxDeltaDirs, compactBytesRatio = ratio)
    q.awaitTermination()
  }

  test("big batches over a small base: the RATIO fires long before the count cap") {
    val dir = tmp("cps_ratio")
    graft.index.Sq.ensureCodesArtifact(vecs(0 until 20), dir)
    // three 500-row batches over a 20-row base at ratio 0.5: every
    // pre-append check sees delta bytes >= half the base bytes (even
    // after the base absorbs a batch) and folds, so at most the newest
    // batch's delta is ever live — with the count cap far away at 16
    runStream(dir, Seq(vecs(1000 until 1500), vecs(2000 until 2500),
      vecs(3000 until 3500)), maxDeltaDirs = 16, ratio = 0.5)
    assert(MutableStore.deltaTags(graft.index.Sq.layoutOf(dir)).size <= 1,
      s"ratio trigger must have folded: ${MutableStore.deltaTags(graft.index.Sq.layoutOf(dir)).size} deltas live")
    // and nothing was lost: every appended vector is probeable
    assert(graft.index.Sq.codesWithDeltas(spark, dir).count() == 20L + 1500L)
  }

  test("HNSW compaction is a versioned atomic swap: new layout_v1, old dir GC'd, probes invariant, ensure reuses") {
    import graft.index.Hnsw
    val dir = tmp("cps_hnsw")
    val base = vecs(0 until 150)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    Hnsw.ensureLayout(base, dir, p)
    val batch = vecs(5000 until 5040)
    Hnsw.appendDelta(spark, dir, batch, tag = "d1", p)
    val q = base.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    def probe() = Hnsw.searchLayoutDeltaAware(spark, dir, q, 5, p, efSearch = 64)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = probe()
    Hnsw.compactDeltas(spark, dir, p)
    assert(probe() == want, "probe invariant across the versioned compaction")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/layout_v1")))
    // lagged GC: the superseded base is RETAINED until the next
    // compaction (a snapshot-pinned probe may still be reading it)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/layout")),
      "superseded base must survive its own commit (lagged GC)")
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)).isEmpty)
    // crash window B: a folded delta resurrected on disk stays invisible
    Hnsw.appendDelta(spark, dir, batch, tag = "d1", p)
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)).isEmpty,
      "a sidecar-folded delta dir must not be live")
    assert(probe() == want)
    // a fresh ensure over the union corpus field-matches the compacted
    // sidecar and REUSES the v1 layout (no rebuild)
    val t0 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$dir/layout_v1"))
    Hnsw.ensureLayout(base.unionAll(batch), dir, p)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/layout_v1")) &&
      java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$dir/layout_v1")) == t0,
      "ensure over the union corpus must reuse the compacted layout")
  }

  test("HNSW dropTombstoned compaction physically reclaims: dead nodes gone, probe = exact over survivors, ensure reuses") {
    import graft.index.Hnsw
    import graft.ops.VectorSearch
    val dir = tmp("cps_hnswdrop")
    val base = vecs(0 until 150)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    Hnsw.ensureLayout(base, dir, p)
    Hnsw.deleteFromLayout(spark, dir, Seq(3L, 9L, 14L), tag = "t")
    val q = base.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val live = base.filter(!col("vec_id").isin(3L, 9L, 14L))
    val want = VectorSearch.knnExact(live, q.toSeq, 5)
      .select("vec_id").as[Long].collect().toSeq
    Hnsw.compactDeltas(spark, dir, p, dropTombstoned = true)
    // dead nodes physically gone, tombstone table removed
    assert(Hnsw.layout(spark, dir)
      .filter(col("vec_id").isin(3L, 9L, 14L)).count() == 0L)
    // the consumed tombstone batches are no longer named by the
    // committed state (probes pay no exclusion); their dirs linger as
    // GC debt until the next compaction — lagged GC
    assert(Hnsw.tombstonedIds(spark, dir).isEmpty,
      "committed state must no longer name the consumed tombstones")
    // the rebuilt graph probes to the survivors-only exact ranking
    val got = Hnsw.searchLayout(spark, dir, q, 5, p, efSearch = 64)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want)
    // a fresh ensure over the LIVE corpus matches the committed
    // fingerprint and reuses the compacted version
    val vdir = java.nio.file.Paths.get(Hnsw.layoutPath(dir))
    val t0 = java.nio.file.Files.getLastModifiedTime(vdir)
    Hnsw.ensureLayout(live, dir, p)
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(Hnsw.layoutPath(dir))) == t0,
      "ensure over the live corpus must reuse the reclaimed layout")
  }

  test("IVF base size through the store handle: the files the committed manifest lists") {
    import graft.index.Ivf
    import scala.jdk.CollectionConverters._
    val dir = tmp("cps_ivfsize")
    val base = vecs(0 until 200)
    val layout = Ivf.buildLayout(spark, base, dir, nlist = 4, maxIter = 2)
    // 20 copies of one vector land in ONE list, so the fold rewrites
    // that cluster only and the other lists stay root-resident
    Ivf.appendDelta(layout, base.filter(col("vec_id") === 7L).crossJoin(spark.range(20))
      .select((col("id") + 9000L).as("vec_id"), col("embedding")), tag = "d1")
    Ivf.compactDeltas(spark, layout)
    val v = MutableStore.state(dir).v
    assert(v >= 1)
    val mdir = java.nio.file.Paths.get(dir, s"_manifest_v$v")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def json(p: java.nio.file.Path) = mapper.readTree(java.nio.file.Files.readString(p))
    val listed = json(mdir.resolve("_index.json")).get("clusters").elements().asScala
      .flatMap(k => json(mdir.resolve(s"cluster_${k.asText()}.json")).get("files").elements().asScala)
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dir, f.asText()))).sum
    assert(MutableStore.baseBytes(Ivf.storeOf(dir)) == listed)
    assert(Ivf.baseBytes(layout) == listed)
    val foldBytes = MutableStore.duBytes(java.nio.file.Paths.get(dir, s"_fold_v$v"))
    assert(listed > foldBytes,
      s"the manifest ($listed B) must also list the untouched root clusters, not only the fold tree ($foldBytes B)")
  }

  test("tiny batches over a big base: no ratio fold; the count cap still bounds fan-out") {
    val dir = tmp("cps_count")
    graft.index.Sq.ensureCodesArtifact(vecs(0 until 2000), dir)
    val batches = (1 to 4).map(i => vecs(10000 * i until (10000 * i + 3)))
    runStream(dir, batches, maxDeltaDirs = 3, ratio = 1.0)
    // 3-row deltas never reach the 2000-row base's bytes, so only the
    // count cap (3) folds: batch 3's pre-check folds batches 1-2,
    // leaving batches 3 and 4 live — never more than maxDeltaDirs
    assert(MutableStore.deltaTags(graft.index.Sq.layoutOf(dir)).size <= 3)
    assert(graft.index.Sq.codesWithDeltas(spark, dir).count() == 2000L + 12L)
  }
}
