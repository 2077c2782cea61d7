package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.io.MutableStore

/** Takedown on the incremental exact-dedup hash store: a scrubbed
  * document's content hash is derived data and must go too. Covered-leg
  * tombstones on (h, first_id) pairs; content re-crawled AFTER the
  * takedown re-enters; compaction is the engine-wide versioned atomic
  * swap with physical drop. */
class HashStoreDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "alpha beta gamma"),
    (1L, "delta epsilon zeta"),
    (2L, "alpha beta gamma"), // dup of 0
    (3L, "eta theta iota"),
    (4L, "kappa lambda mu")).toDF("doc_id", "text")

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def verdicts(dir: String, batch: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Long])] =
    Dedup.newAgainstStore(spark, dir, batch)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

  test("takedown of a first owner forgets the content; a dup's takedown is a no-op; re-crawl after takedown re-enters") {
    val dir = tmp("hsdel")
    Dedup.ensureHashStore(spark, corpus, dir)
    // delete doc 3 (sole owner of its content) and doc 2 (a DUP of 0 —
    // its (h, 2) pair was never stored, so this must change nothing
    // about content 'alpha beta gamma')
    Dedup.deleteFromHashStore(spark, dir,
      corpus.filter(col("doc_id").isin(2L, 3L)), tag = "t1")
    val probe = Seq(
      (100L, "eta theta iota"),    // deleted owner's content -> novel
      (101L, "alpha beta gamma"),  // owner 0 still live -> dup of 0
      (102L, "totally fresh text") // never seen -> novel
    ).toDF("doc_id", "text")
    val v = verdicts(dir, probe)
    assert(v(100L) == (1L, None), s"takedown must forget doc 3's content: ${v(100L)}")
    assert(v(101L) == (0L, Some(0L)))
    assert(v(102L) == (1L, None))

    // re-crawl of the deleted content via a LATER batch: re-enters the
    // store under the new id (the tombstone covers only prior legs)
    val re = Seq((200L, "eta theta iota")).toDF("doc_id", "text")
    val rv = Dedup.incrementalDedupBatch(spark, dir, re, batchTag = Some("re"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rv(200L) == 1L, "re-crawled content must report novel")
    val v2 = verdicts(dir, Seq((300L, "eta theta iota")).toDF("doc_id", "text"))
    assert(v2(300L) == (0L, Some(200L)),
      s"content re-added after the takedown must dedupe against the new owner: ${v2(300L)}")
  }

  test("shingle store takedown: postings masked, re-crawl re-enters, compaction drops physically") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "a completely different document about spark joins here"),
      (6L, "the quick brown fox jumps over the lazy dog today")) // near-dup of 0
      .toDF("doc_id", "text")
    val dir = tmp("shdel")
    Dedup.ensureShingleStore(spark, docs, dir)
    def probe(batch: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Long])] =
      Dedup.nearDupsAgainstShingleStore(spark, dir, batch, maxJaccardDist = 0.5)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val b = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    assert(probe(b)(100L)._2 == Some(0L), "pre-delete: matches doc 0")
    // take down doc 0: the probe must now match the NEXT nearest (6)
    Dedup.deleteFromShingleStore(spark, dir, Seq(0L).toDF("doc_id"), tag = "t1")
    assert(probe(b)(100L)._2 == Some(6L),
      s"post-delete: must match the surviving near-dup 6, got ${probe(b)(100L)}")
    // take down 6 too -> novel
    Dedup.deleteFromShingleStore(spark, dir, Seq(6L).toDF("doc_id"), tag = "t2")
    assert(probe(b)(100L) == (1L, None))
    // re-crawl of the content AFTER the takedown re-enters the store
    val rv = Dedup.incrementalNearDupBatch(spark, dir,
      Seq((200L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"), batchTag = "re")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rv(200L) == 1L)
    assert(probe(b)(100L)._2 == Some(200L),
      "content re-added after the takedown must near-dup against the new owner")
    // compaction: physical drop + versioned parts + probe invariance
    val want = probe(b)
    Dedup.compactShingleStore(spark, dir)
    assert(probe(b) == want)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/sh_v1")))
    assert(spark.read.parquet(s"$dir/sh_v1")
      .filter(col("c_id").isin(0L, 6L)).count() == 0L,
      "tombstoned postings must be physically dropped")
    assert(spark.read.parquet(s"$dir/sh_v1")
      .filter(col("c_id") === 200L).count() > 0L,
      "re-added doc's postings must be folded in")
    // lagged GC: the consumed tombstone dir survives its own commit —
    // the committed state already excludes it (probes pay no mask)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_tombstones/t1")),
      "consumed tombstone dir is retained until the next compaction")
  }

  test("signature store takedown: mask, next-best, re-ingest revives, compaction drops") {
    val sigs = Seq(
      (0L, 0x0F0FL), (3L, 0x0F0EL), // hamming(0,3) = 1
      (6L, 0x7777_0000_0000_0000L)) // far from both
      .toDF("media_id", "sig")
    val dir = tmp("sigdel")
    Dedup.ensureSigStore(spark, sigs, dir)
    def verdict(tag: String, id: Long = 100L): (Long, Option[Long]) =
      Dedup.incrementalSigDedupBatch(spark, dir,
          Seq((id, 0x0F0FL)).toDF("media_id", "sig"), batchTag = tag)
        .collect().map(r => (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).head
    assert(verdict("p0") == (0L, Some(0L)))
    MutableStore.dropMutations(Dedup.flatOf(dir))
    Dedup.deleteFromSigStore(spark, dir, Seq(0L).toDF("s_id"), tag = "t1")
    assert(verdict("p1") == (0L, Some(3L)), "falls through to the hamming-1 neighbor")
    Dedup.deleteFromSigStore(spark, dir, Seq(3L).toDF("s_id"), tag = "t2")
    assert(verdict("p2") == (1L, None)) // novel -> appended under delta_p2
    assert(verdict("p3", 200L) == (0L, Some(100L)),
      "a signature re-ingested after its takedown must match again")
    Dedup.compactSigStore(spark, dir)
    assert(verdict("p4", 300L) == (0L, Some(100L)))
    val ids = spark.read.parquet(s"$dir/base_v1").select("s_id")
      .as[Long].collect().toSet
    assert(!ids.contains(0L) && !ids.contains(3L) && ids.contains(100L))
  }

  test("compaction: physical drop, versioned swap, probe invariance, crash windows") {
    val dir = tmp("hscomp")
    Dedup.ensureHashStore(spark, corpus, dir)
    Dedup.deleteFromHashStore(spark, dir,
      corpus.filter(col("doc_id") === 3L), tag = "t1")
    Dedup.incrementalDedupBatch(spark, dir,
      Seq((500L, "new stream doc")).toDF("doc_id", "text"), batchTag = Some("b1"))
    val probe = Seq(
      (100L, "eta theta iota"), (101L, "new stream doc"),
      (102L, "delta epsilon zeta")).toDF("doc_id", "text")
    val want = verdicts(dir, probe)
    assert(want(100L) == (1L, None) && want(101L) == (0L, Some(500L)) &&
      want(102L) == (0L, Some(1L)))

    // crash window A1: a half-written _building attempt (possibly
    // unreadable junk) must not even be LISTED by the store read
    val half = java.nio.file.Paths.get(s"$dir/_building_base_v1")
    java.nio.file.Files.createDirectories(half)
    java.nio.file.Files.writeString(half.resolve("junk.parquet"), "junk")
    assert(verdicts(dir, probe) == want)
    // crash window A2: a RENAMED-but-uncommitted base_v1 (valid
    // parquet, duplicate rows) must be row-filtered out at v=0
    spark.read.option("recursiveFileLookup", "true").parquet(dir)
      .where(!input_file_name().rlike("/base_v|/_building|/delta_|/_tomb"))
      .write.mode("overwrite").parquet(s"$dir/base_v1")
    assert(verdicts(dir, probe) == want)

    Dedup.compactHashStore(spark, dir)
    assert(verdicts(dir, probe) == want, "probe invariant across compaction")
    // physical state: one fresh versioned base (v skips past the
    // debris — a version path is written exactly once, so cached file
    // listings of old paths can never alias fresh data), debris and
    // old versions GC'd, no deltas, no tombstones
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/base_v2")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/base_v1")),
      "debris version must be GC'd")
    val baseRows = spark.read.parquet(s"$dir/base_v2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(baseRows.exists(_._2 == 500L), "folded delta row must be in the new base")
    assert(!baseRows.exists(_._2 == 3L), "tombstoned pair must be dropped")
    // LAGGED GC: the just-folded delta and just-consumed tombstone dirs
    // survive their own commit (a snapshot-pinned probe may still read
    // them) — the committed state already excludes both — and are
    // collected at the NEXT compaction's start
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta_b1")),
      "folded delta dir is retained until the next compaction")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_tombstones/t1")),
      "consumed tombstone dir is retained until the next compaction")

    // crash window B: a folded delta resurrected on disk is skipped
    Dedup.incrementalDedupBatch(spark, dir,
      Seq((500L, "new stream doc")).toDF("doc_id", "text"), batchTag = Some("b1"))
    assert(verdicts(dir, probe) == want,
      "a state-file-folded delta dir must not double-count")

    // RETENTION BOUND: the NEXT compaction collects what this one kept
    // (the resurrected-but-folded b1 dir, the consumed tombstone, the
    // superseded base version)
    Dedup.incrementalDedupBatch(spark, dir,
      Seq((600L, "another stream doc")).toDF("doc_id", "text"), batchTag = Some("b2"))
    Dedup.compactHashStore(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta_b1")),
      "the NEXT compaction collects the folded delta")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_tombstones/t1")),
      "the NEXT compaction collects the consumed tombstone")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/base_v2")),
      "the JUST-superseded version is retained one more round (lagged GC)")
    // while the v0 root files — superseded by the FIRST compaction —
    // are collected by this one
    val rootData = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith("_") && !n.startsWith(".") &&
            !n.startsWith("delta_") && !n.startsWith("base_v")).toSeq
      } finally ls.close()
    }
    assert(rootData.isEmpty,
      s"the v0 root files must be collected by the next compaction: $rootData")
    val want3 = verdicts(dir, probe)
    assert(want3(101L) == (0L, Some(500L)) && want3(102L) == (0L, Some(1L)))
  }
}
