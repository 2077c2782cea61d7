package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index (posting lists) for text retrieval — the
  * build-once/probe-many discipline of the vector-side IVF layouts
  * ([[graft.index.Ivf.buildLayout]]) applied to BM25 search. The
  * reference has no text surface at all (SURVEY §2.4); this is charter
  * extension for the retrieval side of a training-data pipeline
  * (query-term mining, contamination lookups, corpus QA probes).
  *
  * Build pays the one corpus-wide tokenize + explode + (doc, token)
  * aggregation and materializes postings `(token, doc_id, tf, dl)` as a
  * parquet table BUCKETED BY token: every posting list lives in a known
  * bucket file. Probe filters on the query terms, and Spark's bucket
  * pruning turns that into reading ONLY the buckets that can contain
  * those terms (`SelectedBucketsCount k out of n` in the scan — pinned
  * by InvertedIndexSpec). Query cost scales with the probed posting
  * lists, not the corpus: at 100 TB a 4-term query touches 4 buckets'
  * worth of postings while the scan path re-tokenizes every document.
  *
  * Corpus-level BM25 statistics (n_docs, sum_dl) are computed at build
  * time over the FULL corpus (they are not derivable from a term-pruned
  * probe) and ride the fingerprint sidecar. The sidecar is written
  * LAST, so a crashed build never looks complete; a fingerprint
  * mismatch (changed corpus) pays the rebuild; a fresh process
  * re-registers an external bucketed table over the existing files
  * without touching data (same tiers as [[graft.ops.Bucketed.ensure]]).
  */
object InvertedIndex {

  private val sidecarName = "_graft_postings_sidecar.json"

  /** Build-time corpus stats carried by the sidecar. */
  final case class CorpusStats(nDocs: Long, sumDl: Long)

  /** Order-independent content fingerprint of the SOURCE corpus (id +
    * text), not the derived postings — one narrow xxhash scan instead
    * of re-running the posting explode per probe (`Ivf.fingerprint`'s
    * device). */
  private def fingerprint(df: DataFrame, idCol: String, textCol: String): (Long, Long, String) =
    graft.io.Artifact.hashAgg(df, xxhash64(col(idCol), col(textCol)))

  private val postingsDdl = "token STRING, doc_id BIGINT, tf BIGINT, dl BIGINT"

  /** Idempotently materialize the postings table for `df` at `dir` and
    * return the corpus stats. The three sidecar tiers (catalog hit →
    * metadata-only re-registration → full build) are the shared
    * [[graft.io.Artifact.ensureBucketedTable]] protocol; only the
    * build pass — tokenize, explode, (doc, token) aggregate — lives
    * here. `dl` is the full token-array size (phantom '' of an empty
    * text included) so the probe path reproduces bm25TopDocs
    * bit-for-bit. */
  def ensure(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      dir: String,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): CorpusStats = {
    val r = graft.io.Artifact.ensureBucketedTable(
      spark, table, dir, sidecarName, buckets, key = "token",
      ddl = postingsDdl,
      fingerprint = fingerprint(df, idCol, textCol),
      build = () => {
        val d = df.select(col(idCol).cast("long").as("doc_id"),
            TextAnalysis.tokens(col(textCol)).as("t"))
          .select(col("doc_id"), size(col("t")).cast("long").as("dl"), col("t"))
        val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
        val nDocs = stats.getLong(0)
        val sumDl = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        val postings = d
          .select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
          .groupBy(col("token"), col("doc_id"), col("dl"))
          .agg(count(lit(1)).cast("long").as("tf"))
          .select(col("token"), col("doc_id"), col("tf"), col("dl"))
        (postings, Seq("nDocs" -> nDocs.toString, "sumDl" -> sumDl.toString))
      })
    CorpusStats(r.sidecar.get("nDocs").asLong(), r.sidecar.get("sumDl").asLong())
  }

  private val posSidecarName = "_graft_positional_sidecar.json"
  private val posDdl = "token STRING, doc_id BIGINT, pos INT"

  /** Positional posting table `(token, doc_id, pos)` — the classic
    * phrase-query index (Manning/Raghavan/Schütze IIR §2.4, public):
    * same bucketed build-once/probe-many discipline as [[ensure]],
    * one extra INT per posting buys exact phrase and proximity
    * queries without ever re-reading text. Same three tiers:
    * registered table reused, matching sidecar re-registers over
    * existing files, anything else pays the one tokenize+posexplode
    * pass. */
  def ensurePositional(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      dir: String,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    graft.io.Artifact.ensureBucketedTable(
      spark, table, dir, posSidecarName, buckets, key = "token",
      ddl = posDdl,
      fingerprint = fingerprint(df, idCol, textCol),
      build = () => (positionalPostingsOf(df, idCol, textCol), Seq.empty))
    ()
  }

  /** Exact phrase search over the positional postings: the i-th term's
    * postings shift to `pos − i`, and an occurrence is a (doc, start)
    * surviving the k-way equi-join — the textbook positional
    * intersection. Returns (doc_id, n_occurrences).
    *
    * 100 TB shape: each term's leg is an equality filter the bucketed
    * scan prunes to one bucket; the joins shuffle only the MATCHED
    * postings of the phrase's terms (corpus never rescanned, text
    * never re-read). The declared query's oracle is a brute-force
    * token-slice scan, so the hash match proves the index path
    * equals the definition. */
  def phraseSearch(
      spark: SparkSession,
      table: String,
      phrase: Seq[String]): DataFrame =
    phraseOver(spark.table(table), phrase)

  /** The positional intersection over an arbitrary (token, doc_id,
    * pos) relation — shared by the bucketed-table probe and the
    * delta-aware base ∪ deltas probe. */
  private def phraseOver(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "need at least one phrase term")
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("token") === t)
        .select(col("doc_id"), (col("pos") - lit(i)).as("start"))
    }
    legs.reduceLeft((a, b) => a.join(b, Seq("doc_id", "start")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
  }

  /** BATCHED phrase search — N phrases served by ONE delta-aware
    * positional probe: the union of every phrase's terms bucket-prunes
    * a single postings read, materialized once (`localCheckpoint` —
    * bounded by the PROBED postings, the term-selective slice, never
    * the corpus), and each phrase's adjacency intersection then runs
    * over that frame (batch-sized joins). N separate probes re-read
    * every shared term's bucket N times; this reads each exactly once.
    * Each phrase's rows equal its single-probe
    * [[phraseSearchDeltaAware]] result (same intersection over the
    * same postings — oracle-proven). Returns (query_id, doc_id,
    * n_occurrences). */
  def phraseSearchBatch(
      spark: SparkSession,
      table: String,
      dir: String,
      phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_._2.nonEmpty),
      "need at least one phrase, each with at least one term")
    require(phrases.map(_._1).distinct.size == phrases.size,
      "duplicate query ids in the batch")
    val allTerms = phrases.flatMap(_._2).distinct
    val probed = withDeltas(spark, table, dir)
      .filter(col("token").isin(allTerms: _*))
      .select(col("token"), col("doc_id"), col("pos"))
      .localCheckpoint() // ONE probe feeds every phrase's intersection
    phrases.map { case (qid, phrase) =>
      phraseOver(probed, phrase)
        .select(lit(qid).as("query_id"), col("doc_id"), col("n_occurrences"))
    }.reduce(_ unionAll _)
      .orderBy(col("query_id"), col("doc_id"))
  }

  private val triSidecarName = "_graft_trigram_sidecar.json"
  private val triDdl = "tri STRING, doc_id BIGINT"

  /** Character-trigram posting table `(tri, doc_id)` — the pg_trgm
    * device (public): a substring match implies EVERY trigram of the
    * needle appears in the text, so candidates are an AND-intersection
    * of pruned posting buckets and only they pay the exact `contains`
    * verification. Per-doc trigram sets are distinct-collapsed at
    * build (postings ≈ alphabet-bounded per doc, not length-bounded).
    * Same sidecar tiers as [[ensure]]. */
  def ensureTrigram(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      dir: String,
      buckets: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    graft.io.Artifact.ensureBucketedTable(
      spark, table, dir, triSidecarName, buckets, key = "tri",
      ddl = triDdl,
      fingerprint = fingerprint(df, idCol, textCol),
      build = () => (trigramPostingsOf(df, idCol, textCol), Seq.empty))
    ()
  }

  /** The driver-side twin of [[TextAnalysis.normalizeText]] (space
    * trim, whitespace collapse, ASCII-safe lowercase) — the index and
    * the verification both run over NORMALIZED text, so a probe's
    * needle must pass through the same rule or an uppercase/oddly-
    * spaced needle silently matches nothing. */
  private[text] def normalizeNeedle(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b).replaceAll("\\s+", " ")
      .toLowerCase(java.util.Locale.ROOT)
  }

  /** Substring (`LIKE '%needle%'`) search: trigram AND-intersection
    * for candidates, exact `contains` verification — with the
    * occurrence count derived by length arithmetic so the result is
    * richer than a boolean. The corpus text is read ONLY for the
    * candidate ids (broadcast semi join into the scan); returns
    * (doc_id, n_hits ≥ 1). The needle is normalized with the SAME
    * rule as the indexed text ([[normalizeNeedle]]), and must be ≥ 3
    * chars after normalization (the pg_trgm contract).
    *
    * `n_hits` counts NON-OVERLAPPING occurrences, left to right — the
    * `replace`-then-length-arithmetic definition ("aaa" occurs ONCE in
    * "aaaa"), i.e. `String.replace` semantics, not the count of all
    * start offsets. The declared query's oracle pins exactly this
    * definition. */
  def substringSearch(
      spark: SparkSession,
      table: String,
      corpus: DataFrame,
      needle: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    substringOver(spark.table(table), corpus, needle, idCol, textCol)

  /** The trigram-candidate + exact-verify pipeline over an arbitrary
    * (tri, doc_id) relation — shared by the bucketed-table probe and
    * the delta-aware base ∪ deltas probe. */
  private def substringOver(
      postings: DataFrame,
      corpus: DataFrame,
      needle: String,
      idCol: String,
      textCol: String): DataFrame = {
    val n = normalizeNeedle(needle)
    require(n.length >= 3, s"needle must be >= 3 chars after normalization, got '$n'")
    val tris = n.sliding(3).toSeq.distinct
    val cand = postings
      .filter(col("tri").isin(tris: _*))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("tri")).as("nt"))
      .filter(col("nt") === tris.size)
      .select(col("doc_id"))
    val norm = TextAnalysis.normalizeText(col(textCol))
    corpus.select(col(idCol).cast("long").as("doc_id"), norm.as("_n"))
      .join(broadcast(cand), Seq("doc_id"))
      .withColumn("n_hits",
        ((length(col("_n")) - length(replace(col("_n"), lit(n), lit("")))) /
          lit(n.length)).cast("long"))
      .filter(col("n_hits") > 0L)
      .select(col("doc_id"), col("n_hits"))
  }

  /** BATCHED proximity search — N (termA, termB) queries served by
    * ONE delta-aware positional probe: the union of every pair's
    * terms bucket-prunes a single postings read (materialized once,
    * bounded by the probed slice), and each pair's min-gap join runs
    * over that frame — the per-doc tf(a)·tf(b) cost unchanged. Each
    * query's rows equal its single-probe result. Returns
    * (query_id, doc_id, min_dist). */
  def proximitySearchBatch(
      spark: SparkSession,
      table: String,
      dir: String,
      pairs: Seq[(Long, (String, String))]): DataFrame = {
    require(pairs.nonEmpty, "need at least one term pair")
    require(pairs.map(_._1).distinct.size == pairs.size,
      "duplicate query ids in the batch")
    val allTerms = pairs.flatMap { case (_, (a, b)) => Seq(a, b) }.distinct
    val probed = withDeltas(spark, table, dir)
      .filter(col("token").isin(allTerms: _*))
      .select(col("token"), col("doc_id"), col("pos"))
      .localCheckpoint() // ONE probe feeds every pair's min-gap join
    pairs.map { case (qid, (ta, tb)) =>
      val a = probed.filter(col("token") === ta)
        .select(col("doc_id"), col("pos").as("pa"))
      val b = probed.filter(col("token") === tb)
        .select(col("doc_id"), col("pos").as("pb"))
      a.join(b, Seq("doc_id"))
        .groupBy(col("doc_id"))
        .agg(min(abs(col("pa") - col("pb"))).cast("int").as("min_dist"))
        .select(lit(qid).as("query_id"), col("doc_id"), col("min_dist"))
    }.reduce(_ unionAll _).orderBy(col("query_id"), col("doc_id"))
  }

  /** BATCHED substring search — N needles served by ONE delta-aware
    * trigram probe and ONE corpus verification pass: the union of
    * every needle's trigrams prunes a single postings read
    * (materialized once, bounded by the probed slice), each needle's
    * AND-intersection cuts its candidates from that frame, and one
    * corpus join verifies every (needle, candidate) pair with the
    * exact replace-count — the corpus text is normalized and read
    * once, not N times. Each needle's rows equal its single-probe
    * result (same candidates, same verification arithmetic —
    * oracle-proven). Returns (query_id, doc_id, n_hits). */
  def substringSearchBatch(
      spark: SparkSession,
      table: String,
      dir: String,
      corpus: DataFrame,
      needles: Seq[(Long, String)],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(needles.nonEmpty, "need at least one needle")
    require(needles.map(_._1).distinct.size == needles.size,
      "duplicate query ids in the batch")
    import spark.implicits._
    val norms = needles.map { case (qid, s) => (qid, normalizeNeedle(s)) }
    norms.foreach { case (qid, n) => require(n.length >= 3,
      s"needle of query $qid must be >= 3 chars after normalization, got '$n'") }
    val allTris = norms.flatMap(_._2.sliding(3)).distinct
    val probed = withDeltas(spark, table, dir)
      .filter(col("tri").isin(allTris: _*))
      .select(col("tri"), col("doc_id"))
      .localCheckpoint() // ONE probe feeds every needle's intersection
    val cands = norms.map { case (qid, n) =>
      val tris = n.sliding(3).toSeq.distinct
      probed.filter(col("tri").isin(tris: _*))
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("tri")).as("nt"))
        .filter(col("nt") === tris.size)
        .select(lit(qid).as("query_id"), col("doc_id"))
    }.reduce(_ unionAll _)
    val nDf = norms.toDF("query_id", "_needle")
    val norm = TextAnalysis.normalizeText(col(textCol))
    corpus.select(col(idCol).cast("long").as("doc_id"), norm.as("_n"))
      .join(broadcast(cands), Seq("doc_id"))
      .join(broadcast(nDf), Seq("query_id"))
      .withColumn("n_hits",
        ((length(col("_n")) - length(replace(col("_n"), col("_needle"), lit("")))) /
          length(col("_needle"))).cast("long"))
      .filter(col("n_hits") > 0L)
      .select(col("query_id"), col("doc_id"), col("n_hits"))
      .orderBy(col("query_id"), col("doc_id"))
  }

  /** Proximity search over the positional postings: for docs
    * containing BOTH terms, the minimum token distance between any
    * occurrence pair (IIR §2.4's within-k operator, reported as the
    * exact min gap so any k-threshold is a post-filter). Per-doc cost
    * is tf(a)·tf(b) — bounded by per-doc term frequencies, never
    * corpus-shaped; both legs are pruned bucket reads. Returns
    * (doc_id, min_dist). */
  def proximitySearch(
      spark: SparkSession,
      table: String,
      termA: String,
      termB: String): DataFrame = {
    val a = spark.table(table).filter(col("token") === termA)
      .select(col("doc_id"), col("pos").as("pa"))
    val b = spark.table(table).filter(col("token") === termB)
      .select(col("doc_id"), col("pos").as("pb"))
    a.join(b, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("pa") - col("pb"))).cast("int").as("min_dist"))
  }

  // ---------------------------------------------------------------
  // Delta protocol — the IVF/HNSW incremental-store shape applied to
  // the postings table: micro-batches land as per-batch DELTA posting
  // dirs (tag-keyed OVERWRITE, idempotent under at-least-once
  // redelivery), the bucketed base is never rewritten per batch, and
  // probes score base ∪ deltas with MERGED corpus stats. The sidecar
  // fingerprint aggregates (count, bit_xor, sum of per-row source
  // hashes) are MERGEABLE, so compaction emits the exact fingerprint
  // a fresh ensure over the union corpus would compute — no source
  // text ever rescanned.
  //
  // DELETES are first-class (the reference's O5, vectordb.cpp:74-80,
  // extended to the posting stores): a delete batch is a TAG-KEYED
  // tombstone dir holding the deleted doc ids plus the batch's
  // mergeable fingerprint terms and BM25 stat decrements, recorded
  // against the legs (base + live delta tags) it COVERS at delete
  // time. Probes anti-join each leg with only the tombstones covering
  // it — so a doc re-appended AFTER its delete (a new, uncovered
  // delta tag) is live again, the delete/append ordering a global
  // mask would get wrong. Compaction physically drops tombstoned
  // rows, CONSUMES every tombstone whose covered legs are all folded
  // (subtracting its terms — the new sidecar attests exactly the
  // post-delete corpus, so a fresh ensure over it REUSES), and keeps
  // the rest.
  //
  // Compaction itself is a VERSIONED ATOMIC SWAP, never an in-place
  // overwrite: the folded base is written to a fresh sibling
  // `<dir>_v<N>` while the old base keeps serving (no
  // localCheckpoint pinning, no read-under-write), and the COMMIT
  // POINT is one atomic sidecar replace that simultaneously carries
  // the merged fingerprint, the version pointer, the folded delta
  // tags and the consumed tombstone tags. A crash before the commit
  // leaves the old state fully live; a crash after it (before GC)
  // leaves stale dirs that probes already skip (they read the folded/
  // deadTombs lists) and the next compaction garbage-collects.
  // ---------------------------------------------------------------

  /** Deltas live BESIDE the bucketed data dir (never inside it — the
    * registered table's file listing must not see them). */
  private def deltaRoot(dir: String) = s"${dir}_deltas"
  private val deltaStatsName = "_graft_delta_stats.json"
  private def tombRoot(dir: String) = s"${dir}_tombstones"
  private val tombStatsName = "_graft_tomb_stats.json"

  private val allSidecarNames = Seq(sidecarName, posSidecarName, triSidecarName)

  /** The owning sidecar's path (a dir hosts exactly one posting
    * table), if the store was ever ensured. */
  private def sidecarPath(dir: String): java.nio.file.Path =
    allSidecarNames.iterator
      .map(n => java.nio.file.Paths.get(dir, n))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(java.nio.file.Paths.get(dir, sidecarName))

  /** A posting store as a versioned store ([[graft.io.MutableStore]]):
    * state in the owning sidecar, the v0 base is the bucketed data at
    * `dir` itself (everything there but the sidecars), versions are
    * SIBLING `<dir>_v<N>` dirs, deltas `<dir>_deltas/<tag>` and
    * tombstones `<dir>_tombstones/<tag>` beside it. */
  private def layoutOf(dir: String) = {
    val d = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    graft.io.MutableStore.Layout("InvertedIndex", dir, sidecarPath(dir), flat = false,
      d.getParent.toString, Seq(s"${d.getFileName}_v"), Seq(dir),
      () => graft.io.MutableStore.entries(dir)
        .filterNot(p => allSidecarNames.contains(p.getFileName.toString)),
      Seq(deltaRoot(dir)), "", Some(deltaStatsName), tombRoot(dir), "", Some(tombStatsName))
  }

  private def snapOf(dir: String) = graft.io.MutableStore.snapOf(layoutOf(dir))

  /** The catalog table's current resolved location, normalized to a
    * filesystem path (None when unresolvable — validation then rests
    * on the double state read alone). */
  private def tableLocation(spark: SparkSession, table: String): Option[String] =
    try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = spark.sessionState.catalog.getTableMetadata(id).location
      Some(java.nio.file.Paths.get(loc).normalize.toString)
    } catch { case _: Throwable => None }

  /** Pin one committed snapshot TOGETHER with the catalog-resolved
    * base relation — the posting stores' base is a registered bucketed
    * table, so `spark.table` resolves through the catalog, which a
    * concurrent compaction commit re-points. The pin is optimistic:
    * resolve state → resolve table → re-read state, and accept only
    * when the state is unchanged AND the resolved location is the
    * snapshot's base path (a commit interleaving anywhere in between
    * fails one of the two checks and retries against the newer state).
    * Once pinned, the analyzed relation holds the old location and
    * lagged GC keeps its files (and every delta/tombstone dir the
    * snapshot names) readable through one subsequent commit. */
  /** Optimistic-pin retries observed process-wide (ScaleProbe's
    * pin-overhead row: under a compaction-heavy mutation loop this
    * should stay ~one retry per actual commit, never the 8-cap). */
  private[graft] val pinRetries = new java.util.concurrent.atomic.AtomicLong(0L)

  private def pinned[A](spark: SparkSession, table: String, dir: String)
      (build: (DataFrame, graft.io.MutableStore.Snap) => A): A = {
    var attempt = 0
    while (attempt < 8) {
      val s0 = snapOf(dir)
      val base = spark.table(table)
      val loc = tableLocation(spark, table)
      // absolutize like the catalog side (tableLocation resolves a URI,
      // which is always absolute) — with a RELATIVE store dir a bare
      // normalize can never equal the catalog location and the retry
      // loop would exhaust even with no concurrent commit
      val expected = java.nio.file.Paths.get(layoutOf(dir).basePaths(s0.v).head)
        .toAbsolutePath.normalize.toString
      val s1 = snapOf(dir)
      if (s1.ref == s0.ref && loc.forall(_ == expected))
        return build(base, s0)
      pinRetries.incrementAndGet()
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not pin a consistent snapshot of $table at $dir after 8 attempts " +
        "(a compaction is committing continuously?)")
  }

  /** DELETE a batch of docs from a posting store (any of the three
    * families — BM25 stat decrements ride along and are simply unused
    * by the positional/trigram compactions). The batch must be the
    * docs' FULL rows (id + text — delete is the inverse of append,
    * and a takedown pipeline has the row because it is scrubbing the
    * raw corpus too): the text re-derives the mergeable fingerprint
    * terms and the dl decrement with the exact build-time arithmetic,
    * so a compaction that consumes this tombstone leaves a sidecar a
    * fresh ensure over the post-delete corpus will REUSE.
    *
    * CONTRACT: each deleted row must be LIVE (present exactly once
    * across base ∪ current deltas, not already tombstoned) — the
    * terms are subtracted once, so deleting a phantom would corrupt
    * the fingerprint arithmetic. Tag-keyed OVERWRITE: at-least-once
    * redelivery rewrites the same tombstone, never double-subtracts.
    * The tombstone records the legs it covers (base + the delta tags
    * live right now); a delta appended LATER is not covered, so
    * re-adding a deleted doc revives it. Cost: one batch-sized
    * tokenize + two tiny writes — never an index scan.
    *
    * `excludeCovered`: delta tags the tombstone must NOT cover — a
    * CDC mutation batch passes its OWN tag so (a) a same-batch
    * delete+re-add leaves the re-add live (adds win within a batch)
    * and (b) an at-least-once redelivery, where the crashed attempt's
    * append delta for this tag already sits on disk, cannot record it
    * as covered and mask the batch's own appends. */
  def deleteDocs(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      excludeCovered: Set[String] = Set.empty): Unit =
      graft.io.MutableStore.writing(spark, dir, "InvertedIndex", "deleteDocs") {
    val (nRows, dataHash, hashSum) = fingerprint(batch, idCol, textCol)
    val d = batch.select(col(idCol).cast("long").as("doc_id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
    val nDocs = stats.getLong(0)
    val sumDl = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val covered = graft.io.MutableStore.coveredLegs(layoutOf(dir), excludeCovered)
      .map(t => "\"" + t + "\"").mkString("[", ",", "]")
    val out = s"${tombRoot(dir)}/$tag"
    d.select(col("doc_id")).distinct()
      .write.mode("overwrite").parquet(out)
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(out, tombStatsName),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum","nDocs":$nDocs,"sumDl":$sumDl,"covered":$covered}""")
    graft.io.MutableStore.commitMutation(layoutOf(dir), tag, tomb = true)
  }

  /** Drop every delta and tombstone dir, returning the store to the
    * BASE snapshot its sidecar attests — the replay reset
    * ([[graft.io.MutableStore.dropMutations]]). */
  def dropMutations(dir: String): Unit = graft.io.MutableStore.dropMutations(layoutOf(dir))

  /** The tombstoned doc ids covering one leg, as a broadcast anti-join
    * (None when no tombstone covers it). */
  private def maskFor(spark: SparkSession, dir: String,
      tombs: Seq[graft.io.MutableStore.Tomb], leg: String): Option[DataFrame] = {
    val covering = tombs.filter(_.covered.contains(leg))
    if (covering.isEmpty) None
    else Some(covering.map(t =>
        spark.read.parquet(s"${tombRoot(dir)}/${t.tag}"))
      .reduce(_ unionAll _).distinct())
  }

  private def applyMask(df: DataFrame, mask: Option[DataFrame]): DataFrame =
    // re-select in the input's column order: a USING join fronts the
    // join key, and the leg union downstream is POSITIONAL
    mask.fold(df)(m => df.join(broadcast(m), Seq("doc_id"), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*))

  /** Append one batch of (id, text) docs as a delta posting dir:
    * the batch pays its own tokenize+explode (batch-sized, never
    * corpus-sized), and the delta's stats json records BOTH the BM25
    * stat increments (nDocs, sumDl) and the mergeable source
    * fingerprint terms (count, hash, hsum). Tag-keyed overwrite. */
  def appendDelta(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit =
      graft.io.MutableStore.writing(spark, dir, "InvertedIndex", "appendDelta") {
    val (nRows, dataHash, hashSum) = fingerprint(batch, idCol, textCol)
    val d = batch.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"), col("t"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
    val nDocs = stats.getLong(0)
    val sumDl = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val postings = d
      .select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .select(col("token"), col("doc_id"), col("tf"), col("dl"))
    val out = s"${deltaRoot(dir)}/$tag"
    postings.write.mode("overwrite").parquet(out)
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(out, deltaStatsName),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum","nDocs":$nDocs,"sumDl":$sumDl}""")
    graft.io.MutableStore.commitMutation(layoutOf(dir), tag, tomb = false)
  }

  /** Tags of the live deltas, sorted (probe fan-out width — bounded by
    * the compaction policy), per the COMMITTED state (one sidecar
    * read). A delta is live only once the state names it. */
  def deltaTags(dir: String): Seq[String] = graft.io.MutableStore.deltaTags(layoutOf(dir))

  /** Total bytes of the current BASE version's data files — the
    * denominator of the size-ratio compaction policy. */
  def baseBytes(dir: String): Long = graft.io.MutableStore.baseBytes(layoutOf(dir))

  /** Total bytes of the live delta dirs — the numerator of the
    * size-ratio compaction policy (fold when deltas have grown to a
    * fixed fraction of the base, so each fold's IO is proportional to
    * the delta bytes it folds and total compaction IO stays LINEAR in
    * stream length — a count trigger makes it quadratic). */
  def deltaBytes(dir: String): Long = graft.io.MutableStore.deltaBytes(layoutOf(dir))

  /** The base table's corpus stats, read from its sidecar — the
    * probe-time source of truth (a captured value goes stale the
    * moment an auto-compaction folds deltas into the base). */
  def sidecarStats(dir: String): CorpusStats = {
    val node = snapOf(dir).node.getOrElse(
      throw new IllegalStateException(s"no sidecar under $dir"))
    CorpusStats(node.get("nDocs").asLong(), node.get("sumDl").asLong())
  }

  /** Corpus stats over (base ∪ live deltas) − live tombstones —
    * O(deltas + tombstones) json reads, no data touched. Each live
    * tombstone's decrement applies exactly once (its docs are live in
    * exactly one covered leg — the [[deleteDocs]] contract). */
  def statsDeltaAware(dir: String): CorpusStats = statsOf(dir, snapOf(dir))

  private def statsOf(dir: String, s: graft.io.MutableStore.Snap): CorpusStats = {
    val node = s.node.getOrElse(
      throw new IllegalStateException(s"no sidecar under $dir"))
    def total(k: String) = node.get(k).asLong() +
      s.live.map(layoutOf(dir).deltaStats(_).get(k).asLong()).sum -
      s.tombs.map(_.stats.get.get(k).asLong()).sum
    CorpusStats(total("nDocs"), total("sumDl"))
  }

  /** Operational introspection of a posting store — the engine's
    * DESCRIBE INDEX (FAISS ntotal / ES _stats shape): one row per
    * metric over the committed state and the live mutation legs.
    * `n_docs`/`sum_dl` are the merged delta-aware corpus stats — the
    * numbers the next BM25 probe will actually score with — so the
    * output ties to the corpus definition, not to file counts, and an
    * oracle can recompute it from the survivor corpus. */
  def describeStore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = snapOf(dir) // ONE committed-state read — the report is torn-proof
    // the corpus-stat rows exist only on the BM25 store (the
    // positional/trigram sidecars carry no nDocs/sumDl)
    val stats =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, sidecarName)))
        { val st = statsOf(dir, s)
          Seq(("n_docs", st.nDocs), ("sum_dl", st.sumDl)) }
      else Seq.empty
    (Seq(
      ("base_version", s.v.toLong),
      ("live_deltas", s.live.size.toLong),
      ("live_tombstones", s.tombs.size.toLong)
    ) ++ stats).toDF("metric", "value")
  }

  /** BM25 over (base ∪ deltas) − tombstones: the base leg is the
    * bucket-pruned table probe, each delta leg is a batch-sized
    * parquet read with the token filter pushed, each leg anti-joins
    * only the (broadcast, tiny) tombstones COVERING it, stats are the
    * merged totals, and scoring routes through the same shared
    * expression tree — so results are IDENTICAL to a fresh build over
    * the post-delete union corpus (spec-pinned and oracle-proven by
    * stream_bm25_append / doc_bm25_delete). */
  def bm25SearchDeltaAware(
      spark: SparkSession,
      table: String,
      dir: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topN: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    pinned(spark, table, dir) { (base, s) =>
      // occ AND stats from the SAME pinned snapshot — scoring with one
      // commit's postings and another's corpus stats would be torn
      val occ = withDeltasOf(spark, base, dir, s)
        .filter(col("token").isin(terms: _*))
        .select(col("doc_id"), col("dl"), col("token"), col("tf"))
      val merged = statsOf(dir, s)
      val statsDf = spark.range(1).select(
        lit(merged.nDocs).as("n_docs"), lit(merged.sumDl).as("sum_dl"))
      TextAnalysis.bm25ScoreOcc(occ, statsDf, k1, b, topN, "doc_id")
    }
  }

  /** The posting rows a doc still contributes to the PROBED view
    * (base ∪ live deltas − covering tombstones) — the residual a
    * takedown audit checks. Zero means no probe of any kind can
    * surface the doc from this store; works on all three index
    * families (they share the masked-union machinery). */
  def docResidual(spark: SparkSession, table: String, dir: String, docId: Long): Long =
    withDeltas(spark, table, dir).filter(col("doc_id") === docId).count()

  /** BATCHED BM25 — a whole query table served by ONE delta-aware
    * posting probe (the text-side twin of the batch HNSW probe): the
    * union of every query's terms bucket-prunes a single occ scan,
    * per-token df is computed once, and each query's rows equal its
    * single-query [[bm25SearchDeltaAware]] result bit-for-bit
    * (identical scoring arithmetic — oracle-proven). At scale this
    * amortizes the probe and the df aggregation across the batch: the
    * per-query marginal cost is one broadcast-join fan-out, not a scan. */
  def bm25SearchBatch(
      spark: SparkSession,
      table: String,
      dir: String,
      queries: Seq[(Long, Seq[String])],
      k1: Double = 1.2,
      b: Double = 0.75,
      topN: Int = 20): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query, each with at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch")
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    pinned(spark, table, dir) { (base, s) =>
      val occ = withDeltasOf(spark, base, dir, s)
        .filter(col("token").isin(allTerms: _*))
        .select(col("doc_id"), col("dl"), col("token"), col("tf"))
      val merged = statsOf(dir, s)
      val statsDf = spark.range(1).select(
        lit(merged.nDocs).as("n_docs"), lit(merged.sumDl).as("sum_dl"))
      val qt = queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
        .toDF("query_id", "token")
      TextAnalysis.bm25ScoreOccBatch(occ, qt, statsDf, k1, b, topN)
    }
  }

  /** Fold every live delta (minus `excludeTags` — the streaming
    * auto-compaction passes the current batch's tag, the
    * redelivery-safety contract of [[graft.index.Hnsw.compactDeltas]])
    * into a rebuilt bucketed base: one bucketed shuffle over
    * base ∪ delta POSTINGS (tokenization never repeated), and the new
    * sidecar's fingerprint terms are the MERGED (count, xor, sum) —
    * bit-equal to what a fresh [[ensure]] over the union source corpus
    * computes, so the next ensure reuses instead of rebuilding.
    * Single-writer compactor; concurrent PROBES are safe — they pin
    * one committed snapshot and lagged GC retains its dirs. */
  def compactDeltas(
      spark: SparkSession,
      table: String,
      dir: String,
      buckets: Int,
      excludeTags: Set[String] = Set.empty): Unit =
    compactSimpleDeltas(spark, table, dir, buckets, "token", excludeTags,
      extraLongKeys = Seq("nDocs", "sumDl"))

  // ---------------------------------------------------------------
  // Positional- and trigram-index deltas — the same protocol applied
  // to the (token, doc_id, pos) and (tri, doc_id) tables: batch-tagged
  // delta dirs beside the bucketed base, delta-aware probes over
  // base ∪ deltas, and a compaction whose merged fingerprint equals a
  // fresh ensure over the union corpus. Neither table carries corpus
  // stats, so the delta json holds only the mergeable fingerprint
  // terms and both compactions share one implementation.
  // ---------------------------------------------------------------

  /** The positional posting rows of one (id, text) relation — shared
    * by [[ensurePositional]]'s build and [[appendPositionalDelta]]. */
  private def positionalPostingsOf(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "token")))
      .select(col("token"), col("doc_id"), col("pos").cast("int").as("pos"))

  /** The distinct-trigram posting rows of one (id, text) relation —
    * shared by [[ensureTrigram]]'s build and [[appendTrigramDelta]].
    *
    * The normalization MUST be staged into its own column before the
    * trigram `transform`: higher-order functions are interpreted (no
    * codegen, no subexpression hoisting), so a lambda body containing
    * the regex normalization re-runs the regex PER ELEMENT — O(len²·
    * regex) per document (measured: the 20× ScaleProbe trigram build
    * never finished). With `_n` an attribute, the lambda is a pure
    * substr; the regex runs once per row. The two references to `_n`
    * (sequence bound + lambda) keep CollapseProject from inlining the
    * expensive expression back in. */
  private def trigramPostingsOf(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"),
        TextAnalysis.normalizeText(col(textCol)).as("_n"))
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), greatest(length(col("_n")) - lit(2), lit(0))),
          i => col("_n").substr(i, lit(3)))).as("tris"))
      .select(col("doc_id"), explode(col("tris")).as("tri"))
      .select(col("tri"), col("doc_id"))

  /** Append one batch as a tag-keyed delta dir holding `postings`,
    * with the batch's mergeable source-fingerprint terms in the stats
    * json (written last). Idempotent overwrite under redelivery. */
  private def appendSimpleDelta(
      spark: SparkSession, dir: String, tag: String, postings: DataFrame,
      batchFingerprint: (Long, Long, String), primitive: String): Unit =
      graft.io.MutableStore.writing(spark, dir, "InvertedIndex", primitive) {
    val (nRows, dataHash, hashSum) = batchFingerprint
    val out = s"${deltaRoot(dir)}/$tag"
    postings.write.mode("overwrite").parquet(out)
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(out, deltaStatsName),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum"}""")
    graft.io.MutableStore.commitMutation(layoutOf(dir), tag, tomb = false)
  }

  /** Positional delta: the batch pays its own tokenize + posexplode
    * (batch-sized, never corpus-sized). */
  def appendPositionalDelta(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    appendSimpleDelta(spark, dir, tag, positionalPostingsOf(batch, idCol, textCol),
      fingerprint(batch, idCol, textCol), "appendPositionalDelta")

  /** Trigram delta: the batch pays its own normalize + trigram
    * explode (batch-sized). */
  def appendTrigramDelta(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit =
    appendSimpleDelta(spark, dir, tag, trigramPostingsOf(batch, idCol, textCol),
      fingerprint(batch, idCol, textCol), "appendTrigramDelta")

  /** Postings over (base ∪ live deltas) − covering tombstones: the
    * base leg is the bucket-prunable registered table, each delta leg
    * is a batch-sized parquet read with the probe filter pushed, and
    * each leg anti-joins only the tombstones that COVER it (broadcast
    * tiny sets) — so a doc re-appended after its delete (an uncovered
    * later tag) is served again. */
  private def withDeltas(
      spark: SparkSession, table: String, dir: String): DataFrame =
    pinned(spark, table, dir)((base, s) => withDeltasOf(spark, base, dir, s))

  /** The masked base ∪ `legs` delta union over one PINNED snapshot. */
  private def withDeltasOf(spark: SparkSession, base: DataFrame, dir: String,
      s: graft.io.MutableStore.Snap, legs: Option[Seq[String]] = None): DataFrame = {
    val baseLeg = applyMask(base, maskFor(spark, dir, s.tombs, "base"))
    legs.getOrElse(s.live).foldLeft(baseLeg) { (acc, tag) =>
      acc.unionAll(applyMask(
        spark.read.schema(base.schema).parquet(s"${deltaRoot(dir)}/$tag"),
        maskFor(spark, dir, s.tombs, tag)))
    }
  }

  /** Exact phrase search over base ∪ deltas — identical results to a
    * fresh positional build over the union corpus (oracle-proven by
    * stream_phrase_append). */
  def phraseSearchDeltaAware(
      spark: SparkSession,
      table: String,
      dir: String,
      phrase: Seq[String]): DataFrame =
    phraseOver(withDeltas(spark, table, dir), phrase)

  /** Substring search over base ∪ deltas: candidates AND-intersect the
    * union postings, verification runs over the caller's (union)
    * corpus — identical results to a fresh trigram build (oracle-
    * proven by stream_substring_append). */
  def substringSearchDeltaAware(
      spark: SparkSession,
      table: String,
      dir: String,
      corpus: DataFrame,
      needle: String,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    substringOver(withDeltas(spark, table, dir), corpus, needle, idCol, textCol)

  /** Fold every live delta (minus `excludeTags` — the redelivery-
    * safety contract) and every tombstone into a rebuilt bucketed
    * base in a FRESH sibling version dir (`<dir>_v<N+1>`) while the old
    * base keeps serving ([[graft.io.MutableStore.compact]]): per-leg
    * tombstone anti-joins drop deleted rows physically, tombstones
    * whose covered legs all folded are CONSUMED (terms subtracted — the
    * sidecar then attests exactly the post-delete corpus, so a fresh
    * ensure over it REUSES), and tombstones covering a still-live
    * (excluded) delta stay live. `extraLongKeys` are additive
    * build-time stats carried by the sidecar, every delta stats json
    * and every tombstone (the BM25 table's nDocs/sumDl). After the
    * commit this session's catalog follows the new version. Shared by
    * the BM25, positional, and trigram compactions. */
  private def compactSimpleDeltas(
      spark: SparkSession,
      table: String,
      dir: String,
      buckets: Int,
      key: String,
      excludeTags: Set[String],
      extraLongKeys: Seq[String] = Seq.empty): Unit =
      graft.io.MutableStore.withWriterLock(dir, "compactDeltas") {
    val l = layoutOf(dir)
    val committed = graft.io.MutableStore.compact(spark, l, "compactDeltas", excludeTags) { f =>
      val tmpTable = s"${table}__compact"
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
      withDeltasOf(spark, spark.table(table), dir, f.snap, Some(f.tags)).write
        .mode("overwrite")
        .option("path", f.building.head)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(tmpTable)
      spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files stay
      f.mergedTerms(extraLongKeys) ++
        Seq("buckets" -> buckets.toString, "key" -> graft.io.Artifact.jsonStr(key))
    }
    // this session's catalog follows the committed version — ONE
    // catalog call (no drop-then-create window for concurrent name
    // resolution), then a refresh to drop the cached file listing.
    // ABSOLUTE location (the ensureBucketedTable contract)
    if (committed) {
      val v = graft.io.MutableStore.snapOf(l).v
      spark.sql(s"ALTER TABLE $table SET LOCATION '${l.basePaths(v).head}'")
      spark.sql(s"REFRESH TABLE $table")
    }
  }

  /** Standalone snapshot expiry for a posting store (BM25/positional/
    * trigram — whichever sidecar owns `dir`;
    * [[graft.io.MutableStore.expire]]). Returns # priors expired. */
  def expireSnapshots(dir: String): Int = graft.io.MutableStore.expire(layoutOf(dir))

  def compactPositionalDeltas(
      spark: SparkSession,
      table: String,
      dir: String,
      buckets: Int,
      excludeTags: Set[String] = Set.empty): Unit =
    compactSimpleDeltas(spark, table, dir, buckets, "token", excludeTags)

  def compactTrigramDeltas(
      spark: SparkSession,
      table: String,
      dir: String,
      buckets: Int,
      excludeTags: Set[String] = Set.empty): Unit =
    compactSimpleDeltas(spark, table, dir, buckets, "tri", excludeTags)

  /** BM25 top-`topN` over the persisted postings: the probe filter on
    * the query terms prunes the bucketed scan to the terms' buckets
    * (SelectedBucketsCount in the plan), the pruned postings ARE the
    * `occ` relation, and scoring routes through the same
    * [[TextAnalysis.bm25ScoreOcc]] expression tree as the scan path —
    * identical results, a corpus-scan cheaper plan. */
  def bm25Search(
      spark: SparkSession,
      table: String,
      stats: CorpusStats,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topN: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val occ = spark.table(table)
      .filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("token"), col("tf"))
    val statsDf = spark.range(1).select(
      lit(stats.nDocs).as("n_docs"), lit(stats.sumDl).as("sum_dl"))
    TextAnalysis.bm25ScoreOcc(occ, statsDf, k1, b, topN, "doc_id")
  }
}
