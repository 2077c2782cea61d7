package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.io.MutableStore

/** Tombstone deletes + versioned atomic compaction on the posting
  * stores (r13 VERDICT tasks 1+2): probes over (base ∪ deltas) −
  * tombstones must equal a fresh build over the post-delete corpus,
  * delete-then-append the same doc_id must revive it, compaction must
  * physically drop rows AND leave a sidecar a fresh ensure over the
  * post-delete corpus reuses, and both crash windows (data written /
  * commit not yet; commit done / GC not yet) must leave probes
  * correct. */
class InvertedIndexDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpusRows: Seq[(Long, String)] = Seq(
    (0L, "spark joins merge windows for streams"),
    (1L, "the merge of spark windows and joins"),
    (2L, "postings merge under spark"),
    (3L, "windows stream past the join"),
    (4L, "a quiet document about nothing relevant"),
    (5L, "merge merge merge says the spark join"),
    (6L, "hash join under a window of spark"),
    (7L, "the last spark document mentions merge"))

  private def corpus = corpusRows.toDF("doc_id", "text")

  private var n = 0
  private def freshStore(): (String, String) = {
    n += 1
    val root = java.nio.file.Files.createTempDirectory(s"iidel$n")
    root.toFile.deleteOnExit()
    (s"iidel_tbl_${n}_${System.nanoTime()}", s"$root/postings")
  }

  private def probe(table: String, dir: String): Seq[(Long, Long)] =
    InvertedIndex.bm25SearchDeltaAware(spark, table, dir,
        terms = Seq("spark", "merge", "join"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("bm25_micro"))
      .as[(Long, Long)].collect().toSeq

  private def freshOver(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    val (t2, d2) = freshStore()
    val stats = InvertedIndex.ensure(spark, df, t2, d2, buckets = 4)
    InvertedIndex.bm25Search(spark, t2, stats, Seq("spark", "merge", "join"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("bm25_micro"))
      .as[(Long, Long)].collect().toSeq
  }

  test("delete masks base docs; probe equals a fresh build over the survivors") {
    val (table, dir) = freshStore()
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    InvertedIndex.deleteDocs(spark, dir,
      corpus.filter(col("doc_id").isin(1L, 5L)), tag = "t1")
    val got = probe(table, dir)
    val want = freshOver(corpus.filter(!col("doc_id").isin(1L, 5L)))
    assert(got == want,
      s"post-delete probe must equal fresh build over survivors\ngot  $got\nwant $want")
    assert(!got.exists(r => r._1 == 1L || r._1 == 5L))
  }

  test("delete then re-append the SAME doc_id revives it (tombstone covers only prior legs)") {
    val (table, dir) = freshStore()
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    InvertedIndex.deleteDocs(spark, dir,
      corpus.filter(col("doc_id") === 5L), tag = "t1")
    // re-append doc 5 with the SAME id+text under a LATER tag
    InvertedIndex.appendDelta(spark, dir,
      corpus.filter(col("doc_id") === 5L), tag = "t2")
    val got = probe(table, dir)
    val want = freshOver(corpus) // delete + re-append = the original corpus
    assert(got == want,
      s"delete-then-append must revive the doc with exact stats\ngot  $got\nwant $want")
  }

  test("delete of a delta-resident doc is honored; compaction drops rows, merges terms, and a fresh ensure REUSES") {
    val (table, dir) = freshStore()
    val baseDf = corpus.filter(col("doc_id") < 6L)
    val deltaDf = corpus.filter(col("doc_id") >= 6L)
    InvertedIndex.ensure(spark, baseDf, table, dir, buckets = 4)
    InvertedIndex.appendDelta(spark, dir, deltaDf, tag = "d1")
    // delete one base doc and one delta doc in one batch
    InvertedIndex.deleteDocs(spark, dir,
      corpus.filter(col("doc_id").isin(2L, 6L)), tag = "t1")
    val survivors = corpus.filter(!col("doc_id").isin(2L, 6L))
    val before = probe(table, dir)
    assert(before == freshOver(survivors))

    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)
    // probe invariant across the compaction
    assert(probe(table, dir) == before)
    // rows physically dropped and no deltas/tombstones left behind
    assert(spark.table(table).filter(col("doc_id").isin(2L, 6L)).count() == 0L)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty)
    assert(InvertedIndex.statsDeltaAware(dir) == InvertedIndex.sidecarStats(dir))
    // the versioned swap really happened: base now at the _v1 sibling
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${dir}_v1")))
    // a fresh ensure over the post-delete corpus field-matches the
    // compacted sidecar and REUSES (tier 2: catalog dropped first)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val r = graft.io.Artifact.ensureBucketedTable(
      spark, table, dir, "_graft_postings_sidecar.json", buckets = 4,
      key = "token", ddl = "token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT",
      fingerprint = graft.io.Artifact.hashAgg(survivors,
        xxhash64(col("doc_id"), col("text"))),
      build = () => fail("fingerprint must match the compacted sidecar — no rebuild"))
    assert(!r.rebuilt)
    assert(probe(table, dir) == before)
  }

  test("crash window A: new version dir written but commit never happened — old state fully live") {
    val (table, dir) = freshStore()
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    InvertedIndex.appendDelta(spark, dir,
      Seq((100L, "spark merge extra doc")).toDF("doc_id", "text"), tag = "d1")
    val want = probe(table, dir)
    // simulate: a compaction attempt wrote (garbage) version data, then
    // died before the atomic sidecar commit
    val ghost = java.nio.file.Paths.get(s"${dir}_v1")
    java.nio.file.Files.createDirectories(ghost)
    java.nio.file.Files.writeString(ghost.resolve("part-junk.parquet"), "junk")
    assert(probe(table, dir) == want, "uncommitted version dir must be invisible")
    // the next compaction simply overwrites the leftover and succeeds
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)
    assert(probe(table, dir) == want)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty)
  }

  test("crash window B: commit done but GC died — folded delta still on disk is skipped") {
    val (table, dir) = freshStore()
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    val extra = Seq((100L, "spark merge extra doc")).toDF("doc_id", "text")
    InvertedIndex.appendDelta(spark, dir, extra, tag = "d1")
    val want = probe(table, dir)
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)
    assert(probe(table, dir) == want)
    // resurrect the folded delta dir exactly as a GC crash would leave it
    InvertedIndex.appendDelta(spark, dir, extra, tag = "d1")
    // the sidecar's committed folded list must keep it invisible — the
    // doc would double-count otherwise (its rows are in the new base)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty,
      "a sidecar-folded delta dir must not be live")
    assert(probe(table, dir) == want)
  }

  test("describeStore reports version, live legs, and probe-consistent stats across a compaction") {
    val (table, dir) = freshStore()
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    InvertedIndex.appendDelta(spark, dir,
      Seq((100L, "spark merge extra doc")).toDF("doc_id", "text"), tag = "d1")
    InvertedIndex.deleteDocs(spark, dir,
      corpus.filter(col("doc_id") === 4L), tag = "t1")
    def describe(): Map[String, Long] =
      InvertedIndex.describeStore(spark, dir)
        .as[(String, Long)].collect().toMap
    val before = describe()
    assert(before("base_version") == 0L && before("live_deltas") == 1L &&
      before("live_tombstones") == 1L)
    // n_docs/sum_dl are the merged delta-aware stats the probe scores with
    assert(before("n_docs") == corpusRows.size + 1L - 1L)
    assert(before("n_docs") == InvertedIndex.statsDeltaAware(dir).nDocs)
    assert(before("sum_dl") == InvertedIndex.statsDeltaAware(dir).sumDl)

    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)
    val after = describe()
    assert(after("base_version") == 1L && after("live_deltas") == 0L &&
      after("live_tombstones") == 0L,
      s"compaction must fold legs and bump the version, got $after")
    assert(after("n_docs") == before("n_docs") && after("sum_dl") == before("sum_dl"),
      "the corpus stats must be invariant across a compaction")

    // positional/trigram stores have no corpus-stat rows: the describe
    // must report version + legs and OMIT n_docs/sum_dl, not throw
    val (pt, pd) = freshStore()
    InvertedIndex.ensurePositional(spark, corpus, pt, pd, buckets = 4)
    InvertedIndex.appendPositionalDelta(spark, pd,
      corpus.filter(col("doc_id") === 0L), tag = "p1")
    val posDescr = InvertedIndex.describeStore(spark, pd)
      .as[(String, Long)].collect().toMap
    assert(posDescr == Map(
      "base_version" -> 0L, "live_deltas" -> 1L, "live_tombstones" -> 0L),
      s"positional describe must omit the BM25 stat rows, got $posDescr")
  }

  test("positional + trigram stores: delete equals fresh build; compaction invariant") {
    // positional
    val (pt, pd) = freshStore()
    InvertedIndex.ensurePositional(spark, corpus, pt, pd, buckets = 4)
    InvertedIndex.deleteDocs(spark, pd, corpus.filter(col("doc_id") === 6L), tag = "t1")
    def phr(t: String, d: String) =
      InvertedIndex.phraseSearchDeltaAware(spark, t, d, Seq("hash", "join"))
        .as[(Long, Long)].collect().toSeq.sorted
    assert(phr(pt, pd).isEmpty, "doc 6 was the only 'hash join' doc")
    InvertedIndex.appendPositionalDelta(spark, pd,
      corpus.filter(col("doc_id") === 6L), tag = "t2") // revive
    assert(phr(pt, pd) == Seq((6L, 1L)))
    InvertedIndex.compactPositionalDeltas(spark, pt, pd, buckets = 4)
    assert(phr(pt, pd) == Seq((6L, 1L)))

    // trigram
    val (tt, td) = freshStore()
    InvertedIndex.ensureTrigram(spark, corpus, tt, td, buckets = 4)
    InvertedIndex.deleteDocs(spark, td, corpus.filter(col("doc_id") === 5L), tag = "t1")
    def sub(c: org.apache.spark.sql.DataFrame) =
      InvertedIndex.substringSearchDeltaAware(spark, tt, td, c, "merge merge")
        .as[(Long, Long)].collect().toSeq.sorted
    assert(sub(corpus.filter(col("doc_id") =!= 5L)).isEmpty)
    InvertedIndex.compactTrigramDeltas(spark, tt, td, buckets = 4)
    assert(spark.table(tt).filter(col("doc_id") === 5L).count() == 0L,
      "trigram compaction must physically drop the tombstoned doc")
  }
}
