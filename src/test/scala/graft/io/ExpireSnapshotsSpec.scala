package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.text.InvertedIndex

/** STANDALONE snapshot expiry ([[MutableStore.expireSnapshotsWith]] —
  * the Iceberg `expireSnapshots` analogue, r16 VERDICT task 2). Lagged
  * GC normally runs only at the START of the next compaction, so a
  * store that STOPS compacting retains superseded versions forever.
  * Proven here per layout family:
  *
  *  - a quiescent store reclaims ON DEMAND: superseded version dirs /
  *    fold debris / folded delta legs go without a content commit
  *    (the committed version pointer does not move);
  *  - a pinned view WITHIN retention survives the expiry (its prior
  *    snapshot stays protected);
  *  - the op is idempotent (a second run expires nothing).
  */
class ExpireSnapshotsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("fuzzy flat store: quiescent reclaim on demand; a pinned view within retention survives; version pointer unmoved") {
    import graft.ops.FuzzyJoin
    val dir = tmp("exp_fuzzy")
    val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
    FuzzyJoin.ensureFuzzyStore(spark, registry, dir, "id", "name")
    FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
      Seq((50L, "zzz-unique-zzz")).toDF("id", "name"),
      "id", "name", batchTag = Some("a1")).collect()
    FuzzyJoin.compactFuzzyStore(spark, dir) // v1
    MutableStore.setGcRetention(dir, Some(2))
    try {
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      val wantV1 = ids(FuzzyJoin.fuzzyStoreView(spark, dir))
      val pinned = FuzzyJoin.fuzzyStoreView(spark, dir) // pinned at v1
      FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
        Seq((60L, "uniq60uniq60uniq60")).toDF("id", "name"),
        "id", "name", batchTag = Some("a2")).collect()
      FuzzyJoin.compactFuzzyStore(spark, dir) // v2; v1 prior protected
      // the store is now QUIESCENT; the superseded v1 base is retained
      assert(exists(s"$dir/base_v1"), "lagged GC kept the v1 base")

      // expiry under the store's retention=2 policy: the v1 prior is
      // still protected — the pinned view must survive the op
      FuzzyJoin.expireFuzzyStoreSnapshots(dir)
      assert(exists(s"$dir/base_v1"),
        "a prior within retention survives an explicit expiry")
      assert(ids(pinned) == wantV1,
        "a view pinned within retention must survive the expiry")

      // tighten to the default policy and expire: reclaim ON DEMAND,
      // with no compaction and no content commit
      MutableStore.setGcRetention(dir, None) // default 1
      val n = FuzzyJoin.expireFuzzyStoreSnapshots(dir)
      assert(n >= 1, "the now-unprotected prior(s) must be expired")
      assert(!exists(s"$dir/base_v1"),
        "a QUIESCENT store must reclaim superseded versions on demand")
      val st = MutableStore.state(dir)
      assert(st.v == 2, "expiry is NOT a content commit: version pointer unmoved")
      assert(st.priors.isEmpty, "expired priors leave the committed list")
      assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) == wantV1 + 60L,
        "the current snapshot still serves after the expiry")
      assert(FuzzyJoin.expireFuzzyStoreSnapshots(dir) == 0, "idempotent")
    } finally MutableStore.setGcRetention(dir, None)
  }

  test("ivf layout: expiry releases manifest-removed files and folded delta dirs without moving the committed version") {
    import graft.index.Ivf
    val rng = new scala.util.Random(43)
    val corpus = (0L until 80L)
      .map(i => (i, Array.fill(4)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("exp_ivf") + "/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4, maxIter = 3)
    val q = corpus.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val planted = corpus.filter(col("vec_id") === 7L)
      .crossJoin(spark.range(2))
      .select((col("id") + 9000000L).as("vec_id"), col("embedding"))
    Ivf.appendDelta(layout, planted, tag = "a1")
    Ivf.compactDeltas(spark, layout) // fold commit v>=1; lagged GC pending
    // the folded delta dir is retained for pinned probes…
    assert(exists(s"$dir/_delta_a1"), "lagged GC kept the folded delta leg")
    val want = Ivf.searchLayoutDeltaAware(spark, layout, q, 5, nprobe = 4)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val vBefore = MutableStore.state(dir).v

    // …until the QUIESCENT layout expires its snapshots on demand
    Ivf.expireSnapshots(dir)
    assert(!exists(s"$dir/_delta_a1"),
      "expiry must release the fold commit's removedDirs without waiting " +
        "for a next compaction")
    assert(MutableStore.state(dir).v == vBefore,
      "expiry is NOT a content commit: version pointer unmoved")
    assert(Ivf.searchLayoutDeltaAware(spark, layout, q, 5, nprobe = 4)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq == want,
      "the current snapshot still serves byte-identically after expiry")
    assert(Ivf.expireSnapshots(dir) == 0, "idempotent")
  }

  test("sq8 / hnsw / binary / shingle stores: every family's expireSnapshots reclaims a quiescent store on demand") {
    import graft.index.{Binary, Hnsw, Sq}
    import graft.dedup.Dedup
    val rng = new scala.util.Random(67)
    val dim = 6
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(dim)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()

    // SQ8: one append delta folded → codes_v1; the v0 `codes` dir is
    // retained until the explicit expiry
    val sqDir = tmp("exp_sq")
    Sq.ensureCodesArtifact(corpus, sqDir)
    Sq.appendDelta(spark, sqDir,
      corpus.filter(col("vec_id") === 3L)
        .select((col("vec_id") + 9400000L).as("vec_id"), col("embedding")),
      tag = "a1")
    Sq.compactDeltas(spark, sqDir)
    val nSq = Sq.codesWithDeltas(spark, sqDir).count()
    assert(exists(s"$sqDir/codes"), "lagged GC kept the v0 codes")
    assert(Sq.expireSnapshots(sqDir) >= 1)
    assert(!exists(s"$sqDir/codes"), "sq8 expiry reclaims the superseded base")
    assert(Sq.codesWithDeltas(spark, sqDir).count() == nSq)
    assert(Sq.expireSnapshots(sqDir) == 0, "idempotent")

    // HNSW: a delete reclaimed via fold → layout_v1; v0 `layout` retained
    val hDir = tmp("exp_hnsw")
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    Hnsw.ensureLayout(corpus, hDir, p)
    Hnsw.deleteFromLayout(spark, hDir, Seq(5L), tag = "d1")
    Hnsw.compactDeltas(spark, hDir, p, dropTombstoned = true)
    assert(exists(s"$hDir/layout"), "lagged GC kept the v0 layout")
    assert(Hnsw.expireSnapshots(hDir) >= 1)
    assert(!exists(s"$hDir/layout"), "hnsw expiry reclaims the superseded base")
    assert(Hnsw.searchLayout(spark, hDir, Array.fill(dim)(0.5f), 3, p).count() == 3)
    assert(Hnsw.expireSnapshots(hDir) == 0, "idempotent")

    // BINARY: a delete compacted → sigs_v1; v0 `sigs` retained
    val bDir = tmp("exp_bin")
    Binary.ensureSignatureArtifact(corpus, bDir, dim)
    Binary.deleteFromArtifact(spark, bDir,
      corpus.filter(col("vec_id") === 5L), tag = "d1")
    Binary.compactSignatures(spark, bDir)
    val nBin = Binary.liveSignatures(spark, bDir).count()
    assert(exists(s"$bDir/sigs"), "lagged GC kept the v0 sigs")
    assert(Binary.expireSnapshots(bDir) >= 1)
    assert(!exists(s"$bDir/sigs"), "binary expiry reclaims the superseded base")
    assert(Binary.liveSignatures(spark, bDir).count() == nBin)
    assert(Binary.expireSnapshots(bDir) == 0, "idempotent")

    // SHINGLE: one near-dup batch folded → sh_v1/sizes_v1; the folded
    // delta subdirs are retained until the explicit expiry
    val shDir = tmp("exp_sh")
    val docsDf = Seq((0L, "alpha beta gamma delta"), (1L, "beta gamma delta eps"),
      (2L, "unrelated words entirely here")).toDF("doc_id", "text")
    Dedup.ensureShingleStore(spark, docsDf, shDir)
    Dedup.incrementalNearDupBatch(spark, shDir,
      Seq((10L, "totally fresh content batch")).toDF("doc_id", "text"),
      batchTag = "b1").collect()
    Dedup.compactShingleStore(spark, shDir)
    assert(exists(s"$shDir/sh/delta_b1"), "lagged GC kept the folded delta leg")
    assert(Dedup.expireShingleStoreSnapshots(shDir) >= 0) // prior count may be 0 at v1
    assert(!exists(s"$shDir/sh/delta_b1"),
      "shingle expiry reclaims the folded delta subdirs on demand")
    assert(Dedup.expireShingleStoreSnapshots(shDir) == 0, "idempotent")

    // HASH: one novel batch folded → base_v1; the v0 root files and the
    // folded delta are retained until the explicit expiry
    val hDir2 = tmp("exp_hash")
    Dedup.ensureHashStore(spark, docsDf, hDir2)
    Dedup.incrementalDedupBatch(spark, hDir2,
      Seq((10L, "totally fresh content batch")).toDF("doc_id", "text"),
      batchTag = Some("b1")).collect()
    Dedup.compactHashStore(spark, hDir2)
    val nHash = Dedup.hashStoreView(spark, hDir2).count()
    assert(exists(s"$hDir2/delta_b1"), "lagged GC kept the folded delta leg")
    assert(Dedup.expireHashStoreSnapshots(hDir2) >= 1)
    assert(!exists(s"$hDir2/delta_b1"), "hash expiry reclaims the folded delta")
    assert(Dedup.hashStoreView(spark, hDir2).count() == nHash)
    assert(Dedup.expireHashStoreSnapshots(hDir2) == 0, "idempotent")

    // SIG: a takedown compacted → base_v1; the consumed tombstone is
    // retained until the explicit expiry
    val sDir = tmp("exp_sig")
    Dedup.ensureSigStore(spark,
      Seq((0L, 0x0F0FL), (3L, 0x7777L)).toDF("media_id", "sig"), sDir)
    Dedup.deleteFromSigStore(spark, sDir, Seq(0L).toDF("s_id"), tag = "d1")
    Dedup.compactSigStore(spark, sDir)
    assert(exists(s"$sDir/_tombstones/d1"), "lagged GC kept the consumed tombstone")
    assert(Dedup.expireHashStoreSnapshots(sDir) >= 1)
    assert(!exists(s"$sDir/_tombstones/d1"), "sig expiry reclaims the consumed tombstone")
    assert(spark.read.parquet(s"$sDir/base_v1").select("s_id").as[Long].collect().toSeq == Seq(3L))
    assert(Dedup.expireHashStoreSnapshots(sDir) == 0, "idempotent")
  }

  test("posting store: expiry collects the superseded v0 root data of a quiescent store; search unchanged") {
    val docs = Seq(
      (0L, "zebra apple"), (1L, "zebra banana banana"), (2L, "apple banana"),
      (3L, "zebra cherry"), (4L, "cherry apple zebra zebra")
    ).toDF("doc_id", "text")
    val dir = tmp("exp_bm25")
    val table = "exp_bm25_t"
    InvertedIndex.ensure(spark, docs, table, dir, buckets = 4)
    InvertedIndex.appendDelta(spark, dir,
      Seq((10L, "zebra durian")).toDF("doc_id", "text"), tag = "a1")
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4) // sibling <dir>_v1
    def probe() = InvertedIndex
      .bm25SearchDeltaAware(spark, table, dir, Seq("zebra"))
      .as[(Long, Long, Long)].collect().toSeq
    val want = probe()
    // superseded v0 base data is still at the dir root (lagged GC)…
    def rootData(): Seq[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.endsWith("_sidecar.json")).toSeq
      } finally ls.close()
    }
    assert(rootData().nonEmpty, "lagged GC kept the v0 root data")

    // …until the quiescent store expires on demand
    val n = InvertedIndex.expireSnapshots(dir)
    assert(n >= 1)
    assert(rootData().isEmpty,
      "expiry must collect the superseded v0 root data without a compaction")
    assert(!exists(s"${dir}_deltas/a1"),
      "…and the folded delta dir")
    assert(exists(s"${dir}_v1"), "the CURRENT version is untouched")
    assert(probe() == want, "search serves the current snapshot unchanged")
    assert(InvertedIndex.expireSnapshots(dir) == 0, "idempotent")
  }
}
