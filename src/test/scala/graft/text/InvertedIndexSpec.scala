package graft.text

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.io.MutableStore

/** Persisted posting-list index: build/reuse tiers, bucket-pruned probe
  * plan, and exact agreement with the corpus-scan BM25 path. */
class InvertedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val terms = Seq("spark", "join", "merge", "window")

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_iidx_$tag").toString
    Files.deleteIfExists(Paths.get(d)) // ensure() owns creation
    d
  }

  test("indexed BM25 equals the corpus-scan path row-for-row") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("eq")
    val stats = InvertedIndex.ensure(spark, docs, "iidx_eq", dir, buckets = 8)
    val indexed = InvertedIndex.bm25Search(spark, "iidx_eq", stats, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scanned = TextAnalysis.bm25TopDocs(docs, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(indexed.toSeq == scanned.toSeq)
    spark.sql("DROP TABLE IF EXISTS iidx_eq")
  }

  test("probe scan is bucket-pruned to the query terms' buckets") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("prune")
    val stats = InvertedIndex.ensure(spark, docs, "iidx_prune", dir, buckets = 8)
    val plan = InvertedIndex.bm25Search(spark, "iidx_prune", stats, terms)
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val m = sel.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in probe plan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"probe read every bucket:\n$plan")
    spark.sql("DROP TABLE IF EXISTS iidx_prune")
  }

  test("batched BM25 equals N single-query probes bit-for-bit, one shared probe") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("batch")
    InvertedIndex.ensure(spark, docs, "iidx_batch", dir, buckets = 8)
    val queries: Seq[(Long, Seq[String])] = Seq(
      0L -> terms, 1L -> Seq("stream", "hash"), 2L -> Seq("vector", "merge"))
    val got = InvertedIndex.bm25SearchBatch(spark, "iidx_batch", dir, queries, topN = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSeq
    val want = queries.flatMap { case (qid, ts) =>
      InvertedIndex.bm25SearchDeltaAware(spark, "iidx_batch", dir, ts, topN = 10)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getLong(1), r.getLong(2), i + 1) }
    }
    assert(got == want,
      s"batch rows must equal the single-query probes\ngot  ${got.take(5)}…\nwant ${want.take(5)}…")
    spark.sql("DROP TABLE IF EXISTS iidx_batch")
  }

  test("batched phrase probe equals per-phrase singles, one shared probe") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("phbatch")
    InvertedIndex.ensurePositional(spark, docs, "iidx_phbatch", dir, buckets = 8)
    val phrases: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("hash", "join"), 1L -> Seq("merge", "batch"),
      2L -> Seq("no", "such", "phrase", "anywhere"))
    val got = InvertedIndex.phraseSearchBatch(spark, "iidx_phbatch", dir, phrases)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = phrases.flatMap { case (qid, p) =>
      InvertedIndex.phraseSearchDeltaAware(spark, "iidx_phbatch", dir, p)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().map(r => (qid, r.getLong(0), r.getLong(1)))
    }
    assert(got == want, s"batch phrase rows must equal the single probes")
    assert(!got.exists(_._1 == 2L), "a match-less phrase contributes zero rows")
    spark.sql("DROP TABLE IF EXISTS iidx_phbatch")
  }

  test("batched proximity probe equals per-pair singles, one shared probe") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("proxbatch")
    InvertedIndex.ensurePositional(spark, docs, "iidx_proxbatch", dir, buckets = 8)
    val pairs: Seq[(Long, (String, String))] = Seq(
      0L -> ("vector", "stream"), 1L -> ("hash", "join"))
    val got = InvertedIndex.proximitySearchBatch(spark, "iidx_proxbatch", dir, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val want = pairs.flatMap { case (qid, (a, b)) =>
      InvertedIndex.proximitySearch(spark, "iidx_proxbatch", a, b)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().map(r => (qid, r.getLong(0), r.getInt(1)))
    }
    assert(got == want, "batch proximity rows must equal the single probes")
    spark.sql("DROP TABLE IF EXISTS iidx_proxbatch")
  }

  test("batched substring probe equals per-needle singles, one probe + one verify pass") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("subbatch")
    InvertedIndex.ensureTrigram(spark, docs, "iidx_subbatch", dir, buckets = 8)
    val needles: Seq[(Long, String)] = Seq(
      0L -> "merge batch", 1L -> "hash join", 2L -> "zzz qqq xxx")
    val got = InvertedIndex.substringSearchBatch(
        spark, "iidx_subbatch", dir, docs, needles)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = needles.flatMap { case (qid, n) =>
      InvertedIndex.substringSearchDeltaAware(spark, "iidx_subbatch", dir, docs, n)
        .orderBy(org.apache.spark.sql.functions.col("doc_id"))
        .collect().map(r => (qid, r.getLong(0), r.getLong(1)))
    }
    assert(got == want, "batch substring rows must equal the single probes")
    assert(!got.exists(_._1 == 2L), "a match-less needle contributes zero rows")
    spark.sql("DROP TABLE IF EXISTS iidx_subbatch")
  }

  test("phraseSearch equals a brute-force token-slice scan, incl. repeated terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join beats sort merge hash join"),   // 2 occurrences
      (2L, "hash then join later"),                   // adjacency required
      (3L, "the the the"),                            // repeated-term phrase
      (4L, "join hash")).toDF("doc_id", "text")       // order matters
    val dir = freshDir("phrase")
    InvertedIndex.ensurePositional(spark, docs, "iidx_phrase", dir, buckets = 4)
    val got = InvertedIndex.phraseSearch(spark, "iidx_phrase", Seq("hash", "join"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L), s"got $got")
    val rep = InvertedIndex.phraseSearch(spark, "iidx_phrase", Seq("the", "the"))
      .as[(Long, Long)].collect().toMap
    assert(rep == Map(3L -> 2L), s"overlapping repeated-term occurrences: $rep")
    spark.sql("DROP TABLE IF EXISTS iidx_phrase")
  }

  test("phrase probe legs are bucket-pruned; no corpus rescan in the plan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("phraseprune")
    InvertedIndex.ensurePositional(spark, docs, "iidx_pprune", dir, buckets = 8)
    val plan = InvertedIndex.phraseSearch(spark, "iidx_pprune", Seq("hash", "join"))
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    val ms = sel.findAllMatchIn(plan).toSeq
    assert(ms.nonEmpty, s"no bucket pruning in phrase plan:\n$plan")
    assert(ms.forall(m => m.group(1).toInt < m.group(2).toInt),
      s"a phrase leg read every bucket:\n$plan")
    spark.sql("DROP TABLE IF EXISTS iidx_pprune")
  }

  test("proximitySearch reports the exact min gap; misses docs lacking either term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector a b stream far vector stream"),  // min gap 1 (pos 5,6)
      (2L, "vector only here"),
      (3L, "stream stream")).toDF("doc_id", "text")
    val dir = freshDir("prox")
    InvertedIndex.ensurePositional(spark, docs, "iidx_prox", dir, buckets = 4)
    val got = InvertedIndex.proximitySearch(spark, "iidx_prox", "vector", "stream")
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 1), s"got $got")
    spark.sql("DROP TABLE IF EXISTS iidx_prox")
  }

  test("substringSearch: cross-token needles, overlap counts, no false positives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the merge batch ran a merge batch twice"), // 2 hits
      (2L, "merge then batch"),                        // near-miss: most trigrams, no match
      (3L, "MERGE   BATCH normalized"),                // normalization folds case+spaces
      (4L, "nothing here")).toDF("doc_id", "text")
    val dir = freshDir("tri")
    InvertedIndex.ensureTrigram(spark, docs, "iidx_tri", dir, buckets = 4)
    val got = InvertedIndex.substringSearch(spark, "iidx_tri", docs, "merge batch")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L), s"got $got")
    spark.sql("DROP TABLE IF EXISTS iidx_tri")
  }

  test("substringSearch: needle is normalized like the indexed text; overlaps count NON-overlapping") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the merge batch ran"),
      (2L, "aaaa bbbb"), // 'aaa' occurs at offsets 0 and 1 but counts ONCE (replace semantics)
      (3L, "nothing")).toDF("doc_id", "text")
    val dir = freshDir("trinorm")
    InvertedIndex.ensureTrigram(spark, docs, "iidx_trinorm", dir, buckets = 4)
    // an uppercase, oddly-spaced needle must hit: the probe normalizes
    // it with the SAME trim/collapse/lowercase rule as the index
    val upper = InvertedIndex.substringSearch(spark, "iidx_trinorm", docs, "  MERGE   Batch ")
      .as[(Long, Long)].collect().toMap
    assert(upper == Map(1L -> 1L), s"got $upper")
    // the spec-pinned occurrence definition: non-overlapping, left to
    // right — 'aaa' in 'aaaa' is ONE hit, not two start offsets
    val overlap = InvertedIndex.substringSearch(spark, "iidx_trinorm", docs, "aaa")
      .as[(Long, Long)].collect().toMap
    assert(overlap == Map(2L -> 1L), s"got $overlap")
    // too-short after normalization fails loudly
    assertThrows[IllegalArgumentException] {
      InvertedIndex.substringSearch(spark, "iidx_trinorm", docs, "  ab ")
    }
    spark.sql("DROP TABLE IF EXISTS iidx_trinorm")
  }

  test("sidecar tiers: catalog hit, metadata-only re-register, fingerprint-mismatch rebuild") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val dir = freshDir("tiers")
    val s1 = InvertedIndex.ensure(spark, docs, "iidx_t", dir, buckets = 4)
    val files1 = Paths.get(dir).toFile.listFiles().map(f => f.getName -> f.lastModified).toMap

    // catalog hit: no data touched, same stats
    val s2 = InvertedIndex.ensure(spark, docs, "iidx_t", dir, buckets = 4)
    assert(s2 == s1)

    // fresh process simulated by dropping the catalog entry: the sidecar
    // fingerprint matches, so re-registration rewrites nothing
    spark.sql("DROP TABLE iidx_t")
    val s3 = InvertedIndex.ensure(spark, docs, "iidx_t", dir, buckets = 4)
    assert(s3 == s1)
    val files3 = Paths.get(dir).toFile.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(files3 == files1, "re-registration should not rewrite bucket files")
    // and the re-registered table still answers correctly
    val viaReg = InvertedIndex.bm25Search(spark, "iidx_t", s3, terms).count()
    assert(viaReg >= 0)

    // changed corpus under the same path forces a rebuild with new stats
    spark.sql("DROP TABLE iidx_t")
    val docs2 = spark.read.parquet(s"$sfDir/documents.parquet").limit(80)
    val s4 = InvertedIndex.ensure(spark, docs2, "iidx_t", dir, buckets = 4)
    assert(s4.nDocs == 80 && s4 != s1)
    spark.sql("DROP TABLE IF EXISTS iidx_t")
  }

  test("delta append: BM25 over base ∪ deltas equals a fresh build over the union corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dir = freshDir("delta")
    InvertedIndex.ensure(spark, docs, "iidx_delta", dir, buckets = 4)
    // two appended batches: copies of existing docs under new ids —
    // they shift df_t, n_docs, and avg dl, so stale stats would show
    import spark.implicits._
    val b1 = docs.filter(col("doc_id") < 10)
      .select((col("doc_id") + 8000000L).as("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") >= 10 && col("doc_id") < 15)
      .select((col("doc_id") + 8100000L).as("doc_id"), col("text"))
    InvertedIndex.appendDelta(spark, dir, b1, tag = "b1")
    InvertedIndex.appendDelta(spark, dir, b1, tag = "b1") // redelivery: same tag overwrites
    InvertedIndex.appendDelta(spark, dir, b2, tag = "b2")
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq("b1", "b2"))
    val viaDeltas = InvertedIndex.bm25SearchDeltaAware(spark, "iidx_delta", dir, terms)
      .as[(Long, Long, Long)].collect().toSeq
    // ground truth: a fresh build over the union corpus
    val union = docs.select(col("doc_id"), col("text")).unionAll(b1).unionAll(b2)
    val dir2 = freshDir("deltaref")
    val refStats = InvertedIndex.ensure(spark, union, "iidx_deltaref", dir2, buckets = 4)
    val viaFresh = InvertedIndex.bm25Search(spark, "iidx_deltaref", refStats, terms)
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaDeltas == viaFresh, s"delta-aware != fresh union build:\n$viaDeltas\n$viaFresh")
    assert(InvertedIndex.statsDeltaAware(dir) == refStats,
      "merged corpus stats must equal the fresh union build's")
    spark.sql("DROP TABLE IF EXISTS iidx_delta")
    spark.sql("DROP TABLE IF EXISTS iidx_deltaref")
  }

  test("compactDeltas: probe-invariant, deltas gone, merged fingerprint equals a fresh ensure") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(80)
    val dir = freshDir("compact")
    InvertedIndex.ensure(spark, docs, "iidx_compact", dir, buckets = 4)
    val b1 = docs.filter(col("doc_id") < 6)
      .select((col("doc_id") + 8200000L).as("doc_id"), col("text"))
    val b2 = docs.filter(col("doc_id") >= 6 && col("doc_id") < 9)
      .select((col("doc_id") + 8300000L).as("doc_id"), col("text"))
    InvertedIndex.appendDelta(spark, dir, b1, tag = "c1")
    InvertedIndex.appendDelta(spark, dir, b2, tag = "c2")
    val before = InvertedIndex.bm25SearchDeltaAware(spark, "iidx_compact", dir,
      terms).collect().toSeq
    // excludeTags: c2 (the "current batch") must survive the fold
    InvertedIndex.compactDeltas(spark, "iidx_compact", dir, buckets = 4,
      excludeTags = Set("c2"))
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq("c2"), "excluded delta must stay live")
    InvertedIndex.compactDeltas(spark, "iidx_compact", dir, buckets = 4)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty)
    val after = InvertedIndex.bm25SearchDeltaAware(spark, "iidx_compact", dir,
      terms).collect().toSeq
    assert(after == before, "compaction must be invisible to probe results")
    // the merged (count, xor, sum) fingerprint is bit-equal to a fresh
    // ensure over the union source corpus: dropping the catalog entry
    // forces the sidecar tier, which must RE-REGISTER, not rebuild
    val sidecar = java.nio.file.Paths.get(dir, "_graft_postings_sidecar.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    spark.sql("DROP TABLE IF EXISTS iidx_compact")
    val union = docs.select(col("doc_id"), col("text")).unionAll(b1).unionAll(b2)
    val reused = InvertedIndex.ensure(spark, union, "iidx_compact", dir, buckets = 4)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0,
      "post-compaction fingerprint must equal the union-corpus ensure (no rebuild)")
    assert(reused == InvertedIndex.sidecarStats(dir))
    spark.sql("DROP TABLE IF EXISTS iidx_compact")
  }

  test("positional deltas: phrase over base ∪ deltas equals a fresh build; compaction invariant") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val dir = freshDir("posdelta")
    InvertedIndex.ensurePositional(spark, docs, "iidx_posd", dir, buckets = 4)
    val b1 = Seq((9000001L, "hash join beats sort merge hash join"),
      (9000002L, "hash then join later")).toDF("doc_id", "text")
    val b2 = Seq((9000003L, "another hash join here")).toDF("doc_id", "text")
    InvertedIndex.appendPositionalDelta(spark, dir, b1, tag = "p1")
    InvertedIndex.appendPositionalDelta(spark, dir, b1, tag = "p1") // redelivery overwrite
    InvertedIndex.appendPositionalDelta(spark, dir, b2, tag = "p2")
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq("p1", "p2"))
    val viaDeltas = InvertedIndex.phraseSearchDeltaAware(
      spark, "iidx_posd", dir, Seq("hash", "join")).as[(Long, Long)].collect().toMap
    // planted docs visible with exact occurrence counts; the
    // non-adjacent doc must not appear at all
    assert(viaDeltas(9000001L) == 2L)
    assert(!viaDeltas.contains(9000002L))
    assert(viaDeltas(9000003L) == 1L)
    // ground truth: fresh positional build over the union corpus
    val union = docs.select(col("doc_id"), col("text")).unionAll(b1).unionAll(b2)
    val dir2 = freshDir("posdeltaref")
    InvertedIndex.ensurePositional(spark, union, "iidx_posdref", dir2, buckets = 4)
    val viaFresh = InvertedIndex.phraseSearch(spark, "iidx_posdref", Seq("hash", "join"))
      .as[(Long, Long)].collect().toMap
    assert(viaDeltas == viaFresh, s"delta-aware != fresh union build:\n$viaDeltas\n$viaFresh")
    // compaction: exclude the "current" tag, then fold everything; probe invariant
    InvertedIndex.compactPositionalDeltas(spark, "iidx_posd", dir, buckets = 4,
      excludeTags = Set("p2"))
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq("p2"), "excluded delta must stay live")
    InvertedIndex.compactPositionalDeltas(spark, "iidx_posd", dir, buckets = 4)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty)
    val after = InvertedIndex.phraseSearchDeltaAware(
      spark, "iidx_posd", dir, Seq("hash", "join")).as[(Long, Long)].collect().toMap
    assert(after == viaDeltas, "compaction must be invisible to probe results")
    // merged fingerprint equals a fresh ensurePositional over the union
    val sidecar = java.nio.file.Paths.get(dir, "_graft_positional_sidecar.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    spark.sql("DROP TABLE IF EXISTS iidx_posd")
    InvertedIndex.ensurePositional(spark, union, "iidx_posd", dir, buckets = 4)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0,
      "post-compaction fingerprint must equal the union-corpus ensure (no rebuild)")
    spark.sql("DROP TABLE IF EXISTS iidx_posd")
    spark.sql("DROP TABLE IF EXISTS iidx_posdref")
  }

  test("trigram deltas: substring over base ∪ deltas equals a fresh build; compaction invariant") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val dir = freshDir("tridelta")
    InvertedIndex.ensureTrigram(spark, docs, "iidx_trid", dir, buckets = 4)
    val b1 = Seq((9100001L, "we merge batch outputs then merge batch again"),
      (9100002L, "merge the batch separately")).toDF("doc_id", "text")
    val b2 = Seq((9100003L, "one merge batch here")).toDF("doc_id", "text")
    InvertedIndex.appendTrigramDelta(spark, dir, b1, tag = "t1")
    InvertedIndex.appendTrigramDelta(spark, dir, b1, tag = "t1") // redelivery overwrite
    InvertedIndex.appendTrigramDelta(spark, dir, b2, tag = "t2")
    val union = docs.select(col("doc_id"), col("text")).unionAll(b1).unionAll(b2)
    val viaDeltas = InvertedIndex.substringSearchDeltaAware(
        spark, "iidx_trid", dir, union, "merge batch")
      .as[(Long, Long)].collect().toMap
    assert(viaDeltas(9100001L) == 2L)
    assert(!viaDeltas.contains(9100002L), "trigram candidate must fail exact verification")
    assert(viaDeltas(9100003L) == 1L)
    val dir2 = freshDir("trideltaref")
    InvertedIndex.ensureTrigram(spark, union, "iidx_tridref", dir2, buckets = 4)
    val viaFresh = InvertedIndex.substringSearch(
        spark, "iidx_tridref", union, "merge batch")
      .as[(Long, Long)].collect().toMap
    assert(viaDeltas == viaFresh, s"delta-aware != fresh union build:\n$viaDeltas\n$viaFresh")
    InvertedIndex.compactTrigramDeltas(spark, "iidx_trid", dir, buckets = 4,
      excludeTags = Set("t2"))
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq("t2"), "excluded delta must stay live")
    InvertedIndex.compactTrigramDeltas(spark, "iidx_trid", dir, buckets = 4)
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).isEmpty)
    val after = InvertedIndex.substringSearchDeltaAware(
        spark, "iidx_trid", dir, union, "merge batch")
      .as[(Long, Long)].collect().toMap
    assert(after == viaDeltas, "compaction must be invisible to probe results")
    // merged fingerprint equals a fresh ensureTrigram over the union
    val sidecar = java.nio.file.Paths.get(dir, "_graft_trigram_sidecar.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    spark.sql("DROP TABLE IF EXISTS iidx_trid")
    InvertedIndex.ensureTrigram(spark, union, "iidx_trid", dir, buckets = 4)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0,
      "post-compaction fingerprint must equal the union-corpus ensure (no rebuild)")
    spark.sql("DROP TABLE IF EXISTS iidx_trid")
    spark.sql("DROP TABLE IF EXISTS iidx_tridref")
  }

  test("corpus stats count every doc, not just docs containing query terms") {
    val dir = freshDir("stats")
    import spark.implicits._
    val docs = Seq((1L, "spark join"), (2L, "nothing here"), (3L, "merge")).toDF("doc_id", "text")
    val st = InvertedIndex.ensure(spark, docs, "iidx_s", dir, buckets = 2)
    assert(st.nDocs == 3)
    assert(st.sumDl == 2 + 2 + 1)
    spark.sql("DROP TABLE IF EXISTS iidx_s")
  }
}
