package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions

import graft.functions.Distances
import graft.text.TextAnalysis._

/** Deduplication operators for LLM training-data pipelines.
  *
  * Five methods, each with a 100 TB-safe shape — every candidate-pair
  * generator is bucketed (hash groupBy, LSH band join, shared-shingle
  * join, LSH bucket join); nothing here is an all-pairs cartesian:
  *
  *  - exact:      md5/sha2 of normalized text, hash groupBy
  *  - MinHash:    word shingles → banded b×r MinHash join → exact Jaccard
  *  - SimHash:    64-bit signature, 4×16-bit band join, hamming filter
  *  - n-gram Jaccard: exact Jaccard restricted to pairs sharing a shingle
  *  - embedding:  cosine near-dup via SRP-signature band join → exact cos
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Groups of byte-identical documents (after normalization): one row
    * per duplicated hash with its member count and ids. */
  def exactDupGroups(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol), fingerprintMd5(col(textCol)).as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_docs"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n_docs") > 1)

  /** Exact dedup: keep the lowest-id representative of every hash group.
    * One shuffle on the 16-byte hash; skew-free (hashes are uniform). */
  def dedupExact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol).asc)
    df.withColumn("content_hash", fingerprintMd5(col(textCol)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "content_hash")
  }

  // -------------------------------------------- incremental (batch-vs-store)

  private val hashStoreSidecar = "_graft_hashstore_sidecar.json"

  /** Idempotently materialize the exact-dedup FINGERPRINT STORE for
    * `corpus` at `dir`: one parquet row per distinct normalized-content
    * md5 with its first (minimum-id) owner. This is the artifact that
    * makes dedup INCREMENTAL — a new crawl batch checks itself against
    * the compact hash store instead of re-scanning 100 TB of corpus
    * text (the store is ~48 bytes/distinct doc; three orders of
    * magnitude smaller than the text it summarizes). Same
    * fingerprint-sidecar discipline as the IVF layouts: the sidecar is
    * written LAST (a crashed build never looks complete) and a changed
    * corpus forces a rebuild. */
  def ensureHashStore(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val (nRows, dataHash, hashSum) =
      graft.io.Artifact.hashAgg(corpus, xxhash64(col(idCol), col(textCol)))
    graft.io.Artifact.ensure(dir, hashStoreSidecar,
      graft.io.Artifact.fingerprintJson(nRows, dataHash,
        "hsum" -> hashSum, "idCol" -> idCol, "textCol" -> textCol)) {
      corpus
        .select(graft.text.TextAnalysis.fingerprintMd5(col(textCol)).as("h"),
          col(idCol).cast("long").as("first_id"))
        .groupBy("h").agg(min(col("first_id")).as("first_id"))
        .write.mode("overwrite").parquet(dir)
    }
  }

  // ---- hash-store takedown protocol (the engine-wide tombstone shape:
  // covered legs, versioned atomic compaction — machinery shared via
  // [[graft.io.MutableStore]]) ---------------------------------------------

  import graft.io.MutableStore

  /** The hash and signature stores: the FLAT layout
    * ([[graft.io.MutableStore.flatLayout]]). The stores' one handle:
    * callers apply the [[graft.io.MutableStore]] lifecycle primitives
    * (feeds, expiry, replay reset, tags, rollback) to it. */
  private[graft] def flatOf(dir: String) = MutableStore.flatLayout(dir, "Dedup")

  /** TAKEDOWN from the hash store (GDPR/opt-out: the content hash of a
    * scrubbed document is derived data and must go too). The batch is
    * the deleted docs' FULL rows; the tombstone records the exact
    * `(h, first_id)` pairs those docs OWN — a doc that was itself a
    * dup never entered the store, so masking its (never-stored) pair
    * is a harmless no-op and the caller needn't know who owned what.
    * Covered legs = base + live delta tags NOW, so content re-crawled
    * AFTER the takedown (a later delta tag) is served again — the
    * engine-wide delete/append ordering. Conservative by design: if a
    * still-live doc duplicated the deleted first owner, the store
    * forgets the content and a re-crawl reports it novel (it may
    * re-admit a duplicate; it can never wrongly suppress).
    * Tag-keyed idempotent overwrite. Like the streaming appends,
    * deletes invalidate the SEED sidecar by design — the mutation log
    * owns the store after seeding. */
  def deleteFromHashStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      excludeCovered: Set[String] = Set.empty): Unit =
      MutableStore.writing(spark, storeDir, "Dedup", "deleteFromHashStore") {
    val l = flatOf(storeDir)
    val covered = MutableStore.coveredLegs(l, excludeCovered)
    batch.select(
        graft.text.TextAnalysis.fingerprintMd5(col(textCol)).as("h"),
        col(idCol).cast("long").as("first_id"))
      .distinct()
      .write.mode("overwrite").parquet(s"${l.tombDir(tag)}/pairs")
    MutableStore.writeTombStats(storeDir, tag, covered)
    MutableStore.commitMutation(l, tag, tomb = true)
  }

  /** The hash store as a DataFrame — the seed/current base plus live
    * `delta_*` batch-append legs, MINUS tombstoned pairs (each pair
    * masked only on the legs its tombstone covers: one broadcast
    * anti-join on (leg, h, first_id); with no tombstones and no
    * compaction history this is exactly the original single recursive
    * scan, same plan). `excludeTag` drops one delta leg — the retried
    * batch's own (possibly partial) delta. */
  private def readHashStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeTags: Set[String] = Set.empty): DataFrame =
    readHashAt(spark, dir, MutableStore.snapOf(flatOf(dir)), excludeTags)

  private def readHashAt(spark: org.apache.spark.sql.SparkSession, dir: String,
      s: MutableStore.Snap, excludeTags: Set[String] = Set.empty): DataFrame =
    MutableStore.readFlat(spark, flatOf(dir), s, excludeTags, "pairs", Seq("h", "first_id"))

  /** The exact-dedup hash store as a lazy DataFrame (the committed
    * snapshot: base ∪ live deltas − covering tombstones). */
  def hashStoreView(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    readHashStore(spark, dir)

  /** TIME-TRAVEL view of the hash store (the `VERSION AS OF`
    * analogue): the current version resolves to the live view, a
    * RETAINED prior replays the snapshot as it was when the
    * superseding commit retired it (the retention machinery keeps its
    * files on disk). Loud error naming readable versions otherwise. */
  def hashStoreViewAt(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      version: Int): DataFrame = {
    val st = MutableStore.state(dir)
    if (st.v == version) readHashStore(spark, dir)
    else readHashAt(spark, dir,
      MutableStore.snapAt(flatOf(dir), MutableStore.priorRefOf(dir, st, version)))
  }

  /** The hash store exactly as a TAG captured it — the tag's own
    * reference set, NOT the version's retirement state. */
  def hashStoreViewAtTag(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): DataFrame =
    readHashAt(spark, dir, MutableStore.snapAt(flatOf(dir), MutableStore.resolveTag(dir, name)))

  /** Fold live deltas and consumed tombstones into a fresh base
    * version — the engine-wide VERSIONED ATOMIC SWAP
    * ([[graft.io.MutableStore.compact]]) applied to the hash store:
    * survivors (the masked union minus any excluded delta legs, which
    * stay live delta dirs and keep their own tombstone coverage) land
    * in `base_v<N+1>` while the old base keeps serving; a tombstone is
    * consumed when every covered leg folded. */
  def compactHashStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      excludeTags: Set[String] = Set.empty): Unit =
    MutableStore.compactFlat(spark, flatOf(dir), "compactHashStore", excludeTags,
      "pairs", Seq("h", "first_id"))

  /** Novelty check of a crawl `batch` against a persisted hash store
    * ([[ensureHashStore]]): every batch row annotated with
    * `is_new` (1 = content unseen in the corpus) and `dup_of` (the
    * corpus's first-owner id, null for novel rows).
    *
    * 100 TB shape: the store is the big side and it is NEVER shuffled —
    * the batch's distinct hashes broadcast INTO the store scan (a
    * map-side semi join whose output is bounded by the batch size), and
    * the surviving (hash, first_id) matches broadcast back onto the
    * batch. Two broadcasts of batch-bounded tables; zero wide exchange.
    * A null batch text hashes to null and never matches — it reports
    * as novel, the contract every row keeps one output row. */

  def newAgainstStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(!batch.columns.contains("h"),
      "batch already has an 'h' column; it would collide with the internal hash")
    val store = readHashStore(spark, storeDir)
    val bh = batch.select(col(idCol),
      graft.text.TextAnalysis.fingerprintMd5(col(textCol)).as("h"))
    val probes = bh.select("h").distinct()
    // min-collapse AFTER the semi join (batch-bounded): duplicate store
    // rows for one hash — a historical double-append — must not fan the
    // left join out into duplicate verdict rows
    val matches = store.join(broadcast(probes), "h")
      .groupBy("h").agg(min(col("first_id")).as("first_id"))
    bh.join(broadcast(matches), Seq("h"), "left")
      .select(col(idCol),
        when(col("first_id").isNull, 1L).otherwise(0L).as("is_new"),
        col("first_id").as("dup_of"))
  }

  /** One micro-batch step of STREAM-backed incremental dedup: verdicts
    * for every batch row against the persisted hash store
    * ([[ensureHashStore]] seeds it) AND durable store maintenance —
    * the batch's novel first-occurrence hashes are APPENDED to the
    * store so the next batch sees them. Within-batch duplicates are
    * resolved first (min-id wins, the dedupExact rule): a later
    * same-hash row reports `dup_of` = the batch's first id even when
    * the hash is new to the store.
    *
    * This is the OTHER half of the streaming-dedup story next to
    * `dropDuplicatesWithinWatermark`: the state-store form bounds
    * memory by TIME (a duplicate beyond the horizon re-emits); this
    * form bounds nothing and forgets nothing — dedup memory lives in
    * the ~48-byte/hash parquet store, not executor state, which is
    * the only shape that holds for a multi-month 100 TB crawl. The
    * store side keeps the [[newAgainstStore]] plan (never shuffled;
    * batch hashes broadcast in, matches broadcast back). NOTE: the
    * append invalidates the seed sidecar by design — the stream owns
    * the store after seeding; don't re-run ensureHashStore on it.
    *
    * IDEMPOTENCY: foreachBatch delivery is at-least-once, so a retried
    * micro-batch re-runs this whole body. Pass the batch id as
    * `batchTag` and the novel-hash append goes to the
    * `delta_<tag>` subdirectory in OVERWRITE mode — a retry rewrites
    * the same delta instead of appending the same hashes twice
    * (duplicate store rows would mark true first occurrences as dups
    * of themselves via the fan-out of the verdict join). Without a
    * tag (ad-hoc batch use) the legacy plain append is kept.
    * Returns the verdict DataFrame (id, is_new, dup_of). */
  def incrementalDedupBatch(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      batchTag: Option[String] = None): DataFrame =
      MutableStore.writing(spark, storeDir, "Dedup", "incrementalDedupBatch") {
    val bh = batch.select(col(idCol).cast("long").as("_bid"),
      graft.text.TextAnalysis.fingerprintMd5(col(textCol)).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("_bid").asc)
    val ranked = bh
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_first", min(col("_bid")).over(
        Window.partitionBy(col("h"))))
    // a RETRIED tagged batch must not see its own previous (possibly
    // partial) delta: self-matches would flip every novel verdict to
    // "dup of itself" and the delta overwrite would then erase the
    // hashes — the own-tag leg is excluded INSIDE the store view
    // (scan-level, before any tombstone mask join)
    val store = readHashStore(spark, storeDir, batchTag.toSet)
    val probes = bh.select("h").distinct()
    // min-collapse after the semi join (batch-bounded): robust against
    // duplicate store rows even where an untagged caller double-appended
    val matches = store.join(broadcast(probes), "h")
      .groupBy("h").agg(min(col("first_id")).as("first_id"))
    val joined = ranked.join(broadcast(matches), Seq("h"), "left")
      .select(col("_bid"), col("h"), col("rn"), col("batch_first"),
        col("first_id").as("store_first"))
      // bounded: batch-sized — materialize once for verdicts AND the
      // store append below (and so the append cannot re-read the store
      // it is writing)
      .localCheckpoint()
    // novel first occurrences → durable store rows for the NEXT batch
    val novel = joined.filter(col("store_first").isNull && col("rn") === 1)
      .select(col("h"), col("_bid").as("first_id"))
    batchTag match {
      case Some(tag) =>
        novel.write.mode("overwrite").parquet(s"$storeDir/delta_$tag")
        MutableStore.commitMutation(flatOf(storeDir), tag, tomb = false)
      case None =>
        novel.write.mode("append").parquet(storeDir)
    }
    joined.select(
      col("_bid").as(idCol),
      when(col("store_first").isNull && col("rn") === 1, 1L)
        .otherwise(0L).as("is_new"),
      coalesce(col("store_first"),
        when(col("rn") > 1, col("batch_first"))).as("dup_of"))
  }

  private val shingleStoreSidecar = "_graft_shinglestore_sidecar.json"

  /** Idempotently materialize the NEAR-DUP SHINGLE STORE for `corpus`
    * at `dir`: a posting table `dir/sh` of (shingle-md5, doc_id) rows
    * plus per-doc set sizes `dir/sizes` — the incremental complement
    * of [[ensureHashStore]] for NEAR duplicates. A new crawl batch
    * Jaccard-checks itself against these postings instead of
    * re-tokenizing 100 TB of corpus text (postings are ~32 bytes per
    * distinct shingle — the doc_bm25_indexed discipline, an index
    * artifact, not a text copy). The verdict is EXACT set Jaccard
    * (equality on md5 keys ≡ equality on shingles), so unlike banded
    * MinHash there is no recall caveat for the oracle to carry. Same
    * fingerprint-sidecar protocol: sidecar written LAST, changed
    * corpus forces a rebuild. */
  def ensureShingleStore(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      dir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3): Unit = {
    val (nRows, dataHash, hashSum) =
      graft.io.Artifact.hashAgg(corpus, xxhash64(col(idCol), col(textCol)))
    graft.io.Artifact.ensure(dir, shingleStoreSidecar,
      graft.io.Artifact.fingerprintJson(nRows, dataHash,
        "hsum" -> hashSum, "idCol" -> idCol, "textCol" -> textCol,
        "shingleN" -> shingleN.toString)) {
      val sh = corpus
        .select(col(idCol).cast("long").as("c_id"),
          explode(wordShingles(col(textCol), shingleN)).as("s"))
        .select(md5(col("s")).as("sh"), col("c_id"))
      sh.repartition(col("sh"))
        .write.mode("overwrite").parquet(s"$dir/sh")
      spark.read.parquet(s"$dir/sh")
        .groupBy("c_id").agg(count(lit(1)).as("c_size"))
        .write.mode("overwrite").parquet(s"$dir/sizes")
    }
  }

  /** TAKEDOWN from the shingle store: a scrubbed document's shingle
    * postings and size row are derived data and must go too. Ids-only
    * contract (postings are keyed by doc id — no content needed);
    * covered legs = base + live delta tags now, so a doc re-crawled
    * AFTER the takedown (a later delta) near-dup-serves again.
    * Tag-keyed idempotent overwrite; one tiny write, never a posting
    * scan. */
  def deleteFromShingleStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      ids: DataFrame,
      tag: String,
      idCol: String = "doc_id",
      excludeCovered: Set[String] = Set.empty): Unit =
      MutableStore.writing(spark, storeDir, "Dedup", "deleteFromShingleStore") {
    val l = shingleOf(storeDir)
    val covered = MutableStore.coveredLegs(l, excludeCovered)
    ids.select(col(idCol).cast("long").as("c_id")).distinct()
      .write.mode("overwrite").parquet(s"${l.tombDir(tag)}/ids")
    MutableStore.writeTombStats(storeDir, tag, covered)
    MutableStore.commitMutation(l, tag, tomb = true)
  }

  /** The shingle store's two-part layout: `sh`/`sizes` part dirs (v0)
    * → `sh_v<N>`/`sizes_v<N>`, each with `delta_<tag>` legs nested in
    * the part dir (listed through `sh`; an append writes both under one
    * tag), the flat `_tombstones`. The store's one handle: callers
    * apply the [[graft.io.MutableStore]] lifecycle primitives (feeds,
    * expiry, replay reset) to it. */
  private[graft] def shingleOf(dir: String) = MutableStore.Layout("Dedup", dir,
    java.nio.file.Paths.get(dir, MutableStore.stateName), flat = true, dir,
    Seq("sh_v", "sizes_v"), Seq(s"$dir/sh", s"$dir/sizes"),
    () => Seq("sh", "sizes").flatMap(part => MutableStore.entries(s"$dir/$part")
      .filterNot(_.getFileName.toString.startsWith("delta_"))),
    Seq(s"$dir/sh", s"$dir/sizes"), "delta_", None, s"$dir/_tombstones", "", Some("_stats.json"))

  /** Fold live deltas + consumed tombstones of BOTH parts into fresh
    * versioned part dirs (`sh_v<N>` / `sizes_v<N>`) under one atomic
    * state commit ([[graft.io.MutableStore.compact]]). */
  def compactShingleStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      excludeTags: Set[String] = Set.empty): Unit =
    MutableStore.compactFlat(spark, shingleOf(dir), "compactShingleStore", excludeTags,
      "ids", Seq("c_id"))

  /** Near-duplicate check of a crawl `batch` against a persisted
    * shingle store ([[ensureShingleStore]]): every batch row annotated
    * with `is_novel` (1 = no corpus doc within `maxJaccardDist`),
    * `near_dup_of` (the MINIMUM matching corpus id — deterministic
    * representative), and that match's exact `jaccard_dist` (null for
    * novel rows).
    *
    * 100 TB shape, the [[newAgainstStore]] discipline: the store is
    * the big side and is NEVER shuffled — the batch's distinct shingle
    * hashes broadcast INTO the posting scan (map-side semi join,
    * output bounded by batch postings × duplicate degree), the
    * per-pair intersection count is a batch-bounded aggregation, the
    * corpus sizes needed are fetched by broadcasting the candidate ids
    * into the sizes scan, and everything broadcasts back onto the
    * batch. Zero wide exchange of corpus data. */
  def nearDupsAgainstShingleStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      maxJaccardDist: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      excludeTag: Option[String] = None): DataFrame = {
    // batch shingles materialized ONCE (batch-bounded — the plan
    // already assumes the batch side broadcasts): every downstream
    // branch (the store probe, b_size, the verdict left join) reuses
    // the cached rows instead of re-deriving the explode inside each
    // broadcast-side job
    val bsh = batch
      .select(col(idCol).cast("long").as("b_id"),
        explode(wordShingles(col(textCol), shingleN)).as("s"))
      .select(col("b_id"), md5(col("s")).as("sh"))
      .localCheckpoint()
    val bsz = bsh.groupBy("b_id").agg(count(lit(1)).as("b_size"))
    // current base version plus live delta_* legs, minus covering
    // tombstones ([[graft.io.MutableStore.readFlat]]); a retried batch excludes its
    // OWN delta so it cannot self-match and then erase it. BOTH parts
    // resolve against ONE committed-state read (snapshot contract)
    val l = shingleOf(storeDir)
    val snap = MutableStore.snapOf(l)
    def readPart(part: Int): DataFrame =
      MutableStore.readFlat(spark, l, snap, excludeTag.toSet, "ids", Seq("c_id"), part)
    val store = readPart(0)
    // ONE store-probe join (store ⋈ bsh on sh is row-for-row the old
    // hits-on-distinct-then-bsh double join: hits kept each matching
    // store row once per DISTINCT sh, the second join multiplied by
    // bsh's multiplicity — the direct join produces the same multiset),
    // materialized eagerly: `inter` is candidate-bounded and feeds
    // THREE downstream branches (candSizes' broadcast, the scored join,
    // and its own distinct) — without the checkpoint each branch
    // re-evaluated the whole store scan + probe subtree as its own
    // serial broadcast-side job (measured 6 parquet scans in one
    // verdict plan; guide §2.4 — remove duplicated subtrees)
    val inter = store.join(broadcast(bsh), "sh")
      .groupBy("b_id", "c_id").agg(count(lit(1)).as("n_inter"))
      .localCheckpoint()
    val sizes = readPart(1)
    val candSizes = sizes.join(
        broadcast(inter.select("c_id").distinct()), "c_id")
      // candidate-bounded collapse: duplicate size rows for one corpus
      // id (a historical double-append) must not fan out `inter`
      .groupBy("c_id").agg(max(col("c_size")).as("c_size"))
    val scored = inter
      .join(broadcast(candSizes), "c_id")
      .join(broadcast(bsz), "b_id")
      .withColumn("jaccard_dist",
        lit(1.0) - col("n_inter").cast("double") /
          (col("b_size") + col("c_size") - col("n_inter")).cast("double"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
    val w = Window.partitionBy(col("b_id")).orderBy(col("c_id").asc)
    val best = scored
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("b_id"), col("c_id").as("near_dup_of"), col("jaccard_dist"))
    batch.select(col(idCol).cast("long").as("b_id"))
      .join(broadcast(best), Seq("b_id"), "left")
      .select(col("b_id").as(idCol),
        when(col("near_dup_of").isNull, 1L).otherwise(0L).as("is_novel"),
        col("near_dup_of"), col("jaccard_dist"))
  }

  /** One micro-batch step of STREAM-backed incremental NEAR-dup:
    * verdicts for every batch row against the persisted shingle store
    * ([[ensureShingleStore]] seeds it) AND durable store maintenance —
    * the batch's NOVEL documents' shingle postings and set sizes are
    * appended so the next batch Jaccard-checks against them: the
    * near-dup leg of the multi-month-crawl loop, durable memory in the
    * posting artifact instead of executor state.
    *
    * Verdicts are computed against the store AS OF BATCH START
    * (within-batch near-dup pairs are not detected — that candidate
    * join is corpus-wide by nature and stays the periodic batch refine
    * pass, the streamingCurate split); the verdict table is
    * localCheckpointed BEFORE the append so the lazy plan cannot read
    * the postings it is writing. Appends are keyed by `batchTag` into
    * overwrite-mode `delta_<tag>` subdirs of `sh/` and `sizes/` — the
    * [[incrementalDedupBatch]] idempotency discipline: an
    * at-least-once foreachBatch retry rewrites its own delta instead
    * of doubling postings (doubled postings would double `n_inter`
    * and corrupt every later Jaccard verdict). */
  def incrementalNearDupBatch(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      batchTag: String,
      maxJaccardDist: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3): DataFrame =
      MutableStore.writing(spark, storeDir, "Dedup", "incrementalNearDupBatch") {
    val verdicts = nearDupsAgainstShingleStore(
        spark, storeDir, batch, maxJaccardDist, idCol, textCol, shingleN,
        excludeTag = Some(batchTag))
      .localCheckpoint()
    val novelIds = verdicts.filter(col("is_novel") === 1L)
      .select(col(idCol).cast("long").as("n_id"))
    val novelSh = batch
      .join(broadcast(novelIds), batch(idCol).cast("long") === col("n_id"))
      .select(col(idCol).cast("long").as("c_id"),
        explode(wordShingles(col(textCol), shingleN)).as("s"))
      .select(md5(col("s")).as("sh"), col("c_id"))
      // batch-bounded; reused by the postings AND sizes writes
      .localCheckpoint()
    novelSh.write.mode("overwrite").parquet(s"$storeDir/sh/delta_$batchTag")
    novelSh.groupBy("c_id").agg(count(lit(1)).as("c_size"))
      .write.mode("overwrite").parquet(s"$storeDir/sizes/delta_$batchTag")
    // COMMIT after BOTH parts are written (the delta is one unit)
    MutableStore.commitMutation(shingleOf(storeDir), batchTag, tomb = false)
    verdicts
  }

  // -------------------------------------------------------------- MinHash

  /** Near-duplicate pairs by banded MinHash: a `numBands × rowsPerBand`
    * signature (codegen [[VectorExpressions.minHash]]), candidate pairs
    * share at least one full band (AND-amplification inside a band keeps
    * the candidate set small even when the vocabulary is tiny and raw
    * shingle collisions are common; OR across bands keeps recall:
    * P(candidate) = 1−(1−j^r)^b ≈ 0.995 at j=0.6 with b=12, r=2), then
    * the EXACT Jaccard filter runs on candidates only. Returns
    * (id_a, id_b, jaccard_dist) with id_a < id_b, jaccard_dist ≤
    * `maxJaccardDist`. Shuffle key = (band, r-hash key) — bucketed,
    * never all-pairs. */
  def minHashNearDups(
      df: DataFrame,
      maxJaccardDist: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3,
      numBands: Int = 12,
      rowsPerBand: Int = 2): DataFrame = {
    val sh = df
      .select(col(idCol), wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = sh.withColumn("sig",
      VectorExpressions.minHash(col("sh"), numBands * rowsPerBand))
    val banded = sig.select(
      col(idCol),
      explode(transform(sequence(lit(0), lit(numBands - 1)),
        b => struct(b.as("band"), slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).as("key")))).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    // aliased self-join (projections above the shared subplan): the
    // signature pipeline is derived once and the second side's exchange
    // canonicalizes identically for reuse, instead of recomputing
    // shingling + MinHash per branch
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val shA = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    candidates
      .join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard_dist",
        lit(1.0) - size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
      .select("id_a", "id_b", "jaccard_dist")
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the whitespace tokens of normalized text: each
    * token hashed once (xxhash64, same seed as the SQL function), a ±1
    * vote per bit, sign → bit pack. Codegen expression
    * ([[VectorExpressions.simHash]]) — narrow per-row compute, no
    * shuffle, no interpreted lambda per bit. */
  def simHashCol(textCol: String, hashKind: String = "xx"): Column =
    VectorExpressions.simHash(tokens(col(textCol)), hashKind)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs: signatures are banded into `maxHamming + 1`
    * keys covering all 64 bits (pigeonhole: a pair with ≤ maxHamming
    * differing bits must agree on at least one band exactly, so
    * candidate generation is COMPLETE for the threshold), then the exact
    * hamming filter runs on candidates only. Shuffle key = band value —
    * bucketed, never all-pairs. Fewer bands (tighter threshold) means
    * wider bands and fewer random collisions. */
  def simHashNearDups(
      df: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      hashKind: String = "xx"): DataFrame = {
    val sigs = df.select(col(idCol), simHashCol(textCol, hashKind).as("sig"))
    // the signature is one long, so it rides through the band explode for
    // free and the hamming filter runs inside the self-join — no
    // join-back, no second (or third) signature computation over the text
    sigNearDups(sigs, maxHamming, idCol, "sig")
  }

  /** Near-dup pairs over ANY 64-bit signature table (idCol, sigCol) —
    * the banded-join machinery behind [[simHashNearDups]] as a public
    * entry point, so other signature producers (image dHash, audio
    * fingerprints) compose with the same complete-for-the-threshold
    * candidate generation instead of an all-pairs join. */
  def sigNearDups(
      sigTable: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      sigCol: String = "sig"): DataFrame = {
    val sigs = sigTable.select(col(idCol), col(sigCol).as("sig"))
    val banded = simHashBanded(sigs, maxHamming, idCol)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup pairs BETWEEN two 64-bit signature tables (crawl batch vs
    * persisted store — never within either side): both sides band-
    * explode, candidates share a band key, the exact hamming filter
    * runs on candidates only. Complete for the threshold by the same
    * pigeonhole argument as [[sigNearDups]]. Output
    * `(left id, right id, hamming)`. 100 TB shape: shuffle key = band
    * value on both sides; with a batch-sized left side the banded left
    * table broadcasts into the store scan. */
  def sigNearDupsAgainst(
      left: DataFrame,
      right: DataFrame,
      maxHamming: Int = 3,
      leftIdCol: String = "id_l",
      rightIdCol: String = "id_r",
      sigCol: String = "sig"): DataFrame = {
    val lb = simHashBanded(
      left.select(col(leftIdCol), col(sigCol).as("sig")), maxHamming, leftIdCol)
    val rb = simHashBanded(
      right.select(col(rightIdCol), col(sigCol).as("sig")), maxHamming, rightIdCol)
    lb.as("a")
      .join(rb.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col(s"a.$leftIdCol"), col(s"b.$rightIdCol"),
        hamming64(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  private val sigStoreSidecar = "_graft_sigstore_sidecar.json"

  /** Idempotently materialize a SIGNATURE STORE at `dir`: rows of
    * `(s_id, sig)` behind the shared fingerprint-sidecar protocol — the
    * durable dedup memory for perceptual near-dup crawling (image
    * dHash, audio fingerprints), 16 bytes per item regardless of media
    * size. The incremental complement of [[ensureHashStore]] for the
    * signature legs. */
  def ensureSigStore(
      spark: org.apache.spark.sql.SparkSession,
      sigs: DataFrame,
      dir: String,
      idCol: String = "media_id",
      sigCol: String = "sig"): Unit = {
    val (nRows, dataHash, hashSum) =
      graft.io.Artifact.hashAgg(sigs, xxhash64(col(idCol), col(sigCol)))
    graft.io.Artifact.ensure(dir, sigStoreSidecar,
      graft.io.Artifact.fingerprintJson(nRows, dataHash,
        "hsum" -> hashSum, "idCol" -> idCol, "sigCol" -> sigCol)) {
      sigs.select(col(idCol).cast("long").as("s_id"), col(sigCol).as("sig"))
        .write.mode("overwrite").parquet(dir)
    }
  }

  /** TAKEDOWN from the perceptual-signature store — the media leg of
    * the derived-data scrub: a scrubbed asset's dHash/audio signature
    * row is masked immediately and physically dropped at compaction.
    * Ids-only contract; covered legs = base + live delta tags now, so
    * a re-ingested asset (a later delta) matches again. */
  def deleteFromSigStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      ids: DataFrame,
      tag: String,
      idCol: String = "s_id"): Unit =
      MutableStore.writing(spark, storeDir, "Dedup", "deleteFromSigStore") {
    val l = flatOf(storeDir)
    val covered = MutableStore.coveredLegs(l, Set.empty)
    ids.select(col(idCol).cast("long").as("s_id")).distinct()
      .write.mode("overwrite").parquet(s"${l.tombDir(tag)}/ids")
    MutableStore.writeTombStats(storeDir, tag, covered)
    MutableStore.commitMutation(l, tag, tomb = true)
  }

  private def readSigStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeTags: Set[String]): DataFrame =
    MutableStore.readFlat(spark, flatOf(dir), MutableStore.snapOf(flatOf(dir)),
      excludeTags, "ids", Seq("s_id"))

  def compactSigStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      excludeTags: Set[String] = Set.empty): Unit =
    MutableStore.compactFlat(spark, flatOf(dir), "compactSigStore", excludeTags,
      "ids", Seq("s_id"))

  /** One micro-batch step of STORE-backed incremental SIGNATURE dedup —
    * the [[incrementalDedupBatch]] shape for perceptual near-dups:
    * every batch signature gets a verdict against the persisted store
    * (`is_novel`; `near_dup_of` = the store id at minimal
    * `(hamming, id)`, so the verdict is deterministic under any
    * candidate order), and novel rows append as a batch-tag-keyed
    * OVERWRITE delta (`delta_<tag>`), so at-least-once redelivery
    * rewrites rather than doubles — a retried batch excludes its own
    * previous delta from the store view, mirroring the exact-dup leg.
    * The store is never shuffled beyond the band-key join; verdicts and
    * the delta are batch-bounded. */
  def incrementalSigDedupBatch(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      sigs: DataFrame,
      batchTag: String,
      maxHamming: Int = 3,
      idCol: String = "media_id",
      sigCol: String = "sig"): DataFrame =
      MutableStore.writing(spark, storeDir, "Dedup", "incrementalSigDedupBatch") {
    val batchSigs = sigs
      .select(col(idCol).cast("long").as("b_id"), col(sigCol).as("sig"))
      // bounded: batch-sized — reused by the probe AND the delta write
      // (and so the append cannot re-read the store it is writing)
      .localCheckpoint()
    // current base version plus live delta legs, minus covering
    // tombstones; the retried batch's own delta leg is excluded
    val store = readSigStore(spark, storeDir, Set(batchTag))
    val matches = sigNearDupsAgainst(
        batchSigs, store, maxHamming, "b_id", "s_id")
      .groupBy(col("b_id"))
      .agg(min(struct(col("hamming"), col("s_id"))).as("m"))
    val verdicts = batchSigs.join(broadcast(matches), Seq("b_id"), "left")
      .select(col("b_id"), col("sig"),
        when(col("m").isNull, 1L).otherwise(0L).as("is_novel"),
        col("m.s_id").as("near_dup_of"),
        col("m.hamming").as("hamming"))
      .localCheckpoint()
    verdicts.filter(col("is_novel") === 1L)
      .select(col("b_id").as("s_id"), col("sig"))
      .write.mode("overwrite").parquet(s"$storeDir/delta_$batchTag")
    MutableStore.commitMutation(flatOf(storeDir), batchTag, tomb = false)
    verdicts.select(col("b_id").as(idCol), col("is_novel"),
      col("near_dup_of"), col("hamming"))
  }

  /** (idCol, sig, band, key) — every signature exploded into its
    * `maxHamming + 1` band keys (bits distributed as evenly as
    * possible). */
  private def simHashBanded(
      sigs: DataFrame,
      maxHamming: Int,
      idCol: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val bands = maxHamming + 1
    val baseWidth = 64 / bands
    val extra = 64 % bands
    val bandStructs = (0 until bands).map { i =>
      val width = baseWidth + (if (i < extra) 1 else 0)
      val offset = i * baseWidth + math.min(i, extra)
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(i).as("band"),
        shiftright(col("sig"), offset).bitwiseAND(lit(mask)).as("key"))
    }
    sigs
      .select(col(idCol), col("sig"), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate (id_a, id_b) pairs whose 64-bit signatures agree on at
    * least one band. Factored out so pigeonhole completeness is
    * unit-testable on synthetic signatures. `sigs` must have columns
    * (idCol, sig). */
  private[dedup] def simHashBandPairs(
      sigs: DataFrame,
      maxHamming: Int,
      idCol: String = "doc_id"): DataFrame = {
    val banded = simHashBanded(sigs, maxHamming, idCol)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  // ------------------------------------------------------ n-gram Jaccard

  /** Exact n-gram Jaccard similarity for every pair of documents sharing
    * at least one shingle. The shared-shingle join IS the candidate
    * pruning: shuffle key = shingle hash. At 100 TB, drop ultra-frequent
    * shingles first (`maxShingleDf`) so no hot key explodes the join —
    * the standard "stopword shingle" guard. */
  def ngramJaccardPairs(
      df: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxShingleDf: Long = 1000L): DataFrame = {
    val shingled = df
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("shingle"))
    val rare = shingled
      .groupBy("shingle").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxShingleDf)
      .select("shingle")
    // set sizes attached by window (not a separate groupBy+join), so the
    // self-join's two sides are one subplan: the naive aliased-branch
    // form derived this scan+explode pipeline four times (8 file scans
    // at sf0.1). Its sides are not shared as one exchange, though: at
    // bench size (about 1,000 docs) AQE plans a BroadcastHashJoin whose
    // build side evaluates the window a second time; the doc_id shuffle
    // below it (scan → explode → rare join) is reused in some runs and
    // derived again in others (AQE's exchange-reuse race, see
    // graft.Bench.collapseExchangeDups)
    val pruned = shingled.join(rare, "shingle")
      .withColumn("set_size", count(lit(1)).over(Window.partitionBy(col(idCol))))
    val inter = pruned.as("a")
      .join(pruned.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.set_size").as("size_a"), col("b.set_size").as("size_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("size_a") + col("size_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // ------------------------------------------------------- winnowing

  /** Partial-overlap pairs by winnowing-fingerprint intersection: docs
    * sharing ≥ `minShared` fingerprints (any common substring of length
    * ≥ w+k−1 yields a shared fingerprint — catches copied passages that
    * whole-document methods miss). Candidate generation is a
    * shared-fingerprint join — bucketed on the fingerprint value. */
  def winnowOverlapPairs(
      df: DataFrame,
      minShared: Long = 2L,
      k: Int = 8,
      w: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxFingerprintDf: Long = 500L): DataFrame = {
    val fps = df.select(col(idCol),
      explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
    // hot-fingerprint guard (same role as maxShingleDf): a fingerprint
    // shared by hundreds of docs is a common phrase, not evidence of
    // copying, and would explode the candidate join quadratically
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxFingerprintDf)
      .select("fp")
    val pruned = fps.join(rare, "fp")
    // aliased self-join: the rolling-hash fingerprint pipeline is one
    // shared subplan for both sides
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------- embedding near-dups

  /** Embedding-cosine near-duplicates via SRP (sign-random-projection)
    * banding — the cosine analogue of the SimHash band join. A `bits`-bit
    * signature per row (codegen [[VectorExpressions.srpSign]]); candidate
    * pairs agree on at least one `rowsPerBand`-bit band
    * (P(bit) = 1−θ/π ⇒ recall ≈ 1−(1−p^r)^b — at cos 0.95 with 256/16
    * that is ~96%, exact dups always collide); then the EXACT cosine is
    * recomputed on candidates only, with the same left-to-right codegen
    * fold the oracle mirrors. Shuffle key = (band, key) — bucketed,
    * never all-pairs. Returns (id_a, id_b, cos_sim ≥ minCosine). */
  def embeddingNearDups(
      df: DataFrame,
      minCosine: Double = 0.95,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bits: Int = 256,
      rowsPerBand: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(rowsPerBand > 0 && 64 % rowsPerBand == 0,
      s"rowsPerBand must divide 64, got $rowsPerBand")
    // bits must fill whole longs AND whole bands — otherwise the band
    // loop silently ignores trailing signature bits, quietly lowering
    // recall (64 % rowsPerBand == 0 makes bits % rowsPerBand follow)
    require(bits > 0 && bits % 64 == 0,
      s"bits must be a positive multiple of 64, got $bits")
    val bands = bits / rowsPerBand
    val mask = if (rowsPerBand == 64) -1L else (1L << rowsPerBand) - 1
    val sigs = df.select(col(idCol),
      VectorExpressions.srpSign(col(embCol), bits, seed).as("sig"))
    val bandStructs = (0 until bands).map { b =>
      val longIdx = (b * rowsPerBand) / 64 + 1 // element_at is 1-based
      val shift = (b * rowsPerBand) % 64
      struct(lit(b).as("band"),
        shiftright(element_at(col("sig"), longIdx), shift).bitwiseAND(lit(mask)).as("key"))
    }
    val banded = sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
    // aliased self-join: one SRP-signature subplan for both sides
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val embA = df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val embB = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    candidates
      .join(embA, "id_a").join(embB, "id_b")
      .withColumn("cos_sim", Distances.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos_sim") >= minCosine)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Cross-corpus embedding near-duplicates — SEMANTIC decontamination:
    * does the training corpus contain (near-)copies of benchmark items
    * that n-gram overlap ([[crossCorpusOverlap]]) can't see because they
    * were paraphrased? Same SRP banding as [[embeddingNearDups]], but
    * the band join runs CROSS-corpus (corpus side × probe side), so the
    * shuffle is keyed on (band, key) buckets and the small probe side
    * never forces an all-pairs scan. Exact copies collide in every band
    * (identical signatures) — found with probability 1; paraphrase-level
    * pairs follow the banding recall curve. Returns
    * (corpus_id, probe_id, cos_sim ≥ minCosine). */
  def crossEmbeddingNearDups(
      corpus: DataFrame,
      probe: DataFrame,
      minCosine: Double = 0.95,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      bits: Int = 256,
      rowsPerBand: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(rowsPerBand > 0 && 64 % rowsPerBand == 0,
      s"rowsPerBand must divide 64, got $rowsPerBand")
    // same trailing-bits guard as embeddingNearDups: partial longs or
    // partial bands would be silently dropped by the band loop
    require(bits > 0 && bits % 64 == 0,
      s"bits must be a positive multiple of 64, got $bits")
    val bands = bits / rowsPerBand
    val mask = if (rowsPerBand == 64) -1L else (1L << rowsPerBand) - 1
    def banded(df: DataFrame, outId: String) = {
      val sigs = df.select(col(idCol).as(outId),
        VectorExpressions.srpSign(col(embCol), bits, seed).as("sig"))
      val bandStructs = (0 until bands).map { b =>
        val longIdx = (b * rowsPerBand) / 64 + 1
        val shift = (b * rowsPerBand) % 64
        struct(lit(b).as("band"),
          shiftright(element_at(col("sig"), longIdx), shift).bitwiseAND(lit(mask)).as("key"))
      }
      sigs.select(col(outId), explode(array(bandStructs: _*)).as("bk"))
        .select(col(outId), col("bk.band").as("band"), col("bk.key").as("key"))
    }
    val candidates = banded(corpus, "corpus_id")
      .join(banded(probe, "probe_id"), Seq("band", "key"))
      .select("corpus_id", "probe_id")
      .distinct()
    val embC = corpus.select(col(idCol).as("corpus_id"), col(embCol).as("emb_c"))
    val embP = probe.select(col(idCol).as("probe_id"), col(embCol).as("emb_p"))
    candidates
      .join(embC, "corpus_id").join(embP, "probe_id")
      .withColumn("cos_sim", Distances.cosine(col("emb_c"), col("emb_p")))
      .filter(col("cos_sim") >= minCosine)
      .select("corpus_id", "probe_id", "cos_sim")
  }

  // ------------------------------------------ semantic dedup (SemDeDup)

  /** Semantic near-duplicates, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * compare pairs ONLY within a cluster — the cluster pass replaces the
    * quadratic all-pairs search with k independent O((n/k)²) problems,
    * which is the whole trick. Returns (id_a, id_b, cos_sim) with
    * id_a < id_b, cos_sim ≥ `minCosine`, both ids in the same cluster.
    *
    * Unlike the IVF search index, the clustering here is PART of the
    * operator (a one-shot pipeline pass, not a build-once/probe-many
    * index), so the fit intentionally runs inside: fitting on a sample
    * (`sampleFraction`) and few iterations are fine — any reasonable
    * partition works, exactness comes from the explicit cosine on
    * candidate pairs.
    *
    * Contract vs the banded [[embeddingNearDups]]: byte-identical
    * embeddings always share a cluster (same input ⇒ same argmin), so
    * EXACT duplicates are found with probability 1; near-duplicates very
    * close to a cluster boundary can straddle it — the standard SemDeDup
    * approximation (recall is spec-pinned on jittered fixtures).
    *
    * 100 TB shape: one shuffle keyed on the cluster id for the
    * self-join; choose `nClusters` ∝ corpus/target-cluster-size so the
    * per-cluster quadratic stays bounded, and let AQE skew-split hot
    * clusters. The aliased self-join shares one assignment subplan via
    * exchange reuse. */
  def semanticNearDups(
      df: DataFrame,
      nClusters: Int,
      minCosine: Double = 0.99,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      sampleFraction: Double = 1.0,
      maxIter: Int = 5): DataFrame = {
    val idx = graft.index.Ivf.fit(df, nClusters, embCol, sampleFraction, maxIter)
    val assigned = graft.index.Ivf.assign(idx, df, embCol)
      .select(col(idCol), col(embCol), col("cluster"))
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        Distances.cosine(col(s"a.$embCol"), col(s"b.$embCol")).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** The SemDeDup k-vs-n scaling POLICY, pinned as API: the cluster
    * count must GROW with the corpus — `k = ⌈n / targetClusterSize⌉`
    * holds the expected cluster size constant, so total candidate work
    * Σ|cᵢ|² ≈ n · targetClusterSize stays LINEAR in n. A fixed k makes
    * it n²/k — quadratic again at 1000× the data, which is exactly the
    * blow-up the clustering exists to avoid. (DedupSpec asserts the
    * linearity on two corpus sizes.) `targetClusterSize` trades recall
    * (bigger clusters → fewer boundary-straddling near-dup pairs lost)
    * against per-cluster cost; 4096 suits 100 TB-scale runs where the
    * per-cluster quadratic must stay comfortably inside one task. */
  def semDedupClusters(n: Long, targetClusterSize: Long = 4096L): Int = {
    require(n >= 0 && targetClusterSize > 0,
      s"bad sizes: n=$n targetClusterSize=$targetClusterSize")
    math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
  }

  // ---------------------------------------------- eval decontamination

  /** Cross-corpus contamination check: corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with ANY benchmark
    * document — the standard eval-decontamination sweep run before
    * training (flag, then drop or audit). Same bucketed shape as the
    * near-dup joins, but cross-corpus: shuffle key = shingle, benchmark
    * side is tiny (eval sets are thousands of docs, the corpus is the
    * 100 TB side), and the hot-shingle cap is computed on the CORPUS
    * side, bounding every bucket's fan-out regardless of how common a
    * benchmark phrase is. Returns (idCol, benchIdCol, n_shared). */
  def crossCorpusOverlap(
      corpus: DataFrame,
      bench: DataFrame,
      n: Int = 5,
      minShared: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      maxShingleDf: Long = 1000L): DataFrame = {
    val cs = corpus.select(col(idCol), explode(wordShingles(col(textCol), n)).as("shingle"))
    val bs = bench.select(col(benchIdCol), explode(wordShingles(col(textCol), n)).as("shingle"))
    val rare = cs.groupBy("shingle").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxShingleDf)
      .select("shingle")
    cs.join(rare, "shingle")
      .join(bs, "shingle")
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Bloom-prefiltered decontamination: identical output to
    * [[crossCorpusOverlap]], different 100 TB shape. The exact form
    * shuffles EVERY corpus shingle occurrence into the bench join even
    * though almost none of them touch a benchmark phrase; at corpus
    * scale that shuffle dwarfs the real work. Here the bench side —
    * thousands of eval docs, the side that always fits in memory as
    * BITS even when it is too wide to broadcast as a join table — is
    * compacted into a Bloom filter (built with a `treeAggregate` under
    * `stat.bloomFilter`, so the build itself is distributed), broadcast
    * once, and applied map-side: only corpus shingles that might be
    * benchmark shingles survive into the df-count and the join.
    *
    * Why the output is exactly equal, not approximately:
    *  - no false negatives: every true benchmark shingle passes the
    *    filter, so no overlap pair can be lost;
    *  - false positives are killed by the exact bench join that
    *    follows — a shingle not in `bs` joins to nothing;
    *  - the `maxShingleDf` hot-shingle cap still sees exact corpus-wide
    *    counts: bloom membership is a pure function of the shingle
    *    VALUE, so all occurrences of a shingle pass or fail together
    *    and a survivor's count among survivors IS its full-corpus df.
    *
    * The prefilter is a codegen Bloom probe
    * ([[org.apache.spark.sql.graft.BloomProbeExpr]] — the sketch rides
    * in the expression, probing UTF-8 bytes directly): one bit-test
    * per shingle on the map side buys the elimination of the
    * corpus-wide shuffle, which is the actual 100 TB bottleneck. */
  def crossCorpusOverlapBloom(
      corpus: DataFrame,
      bench: DataFrame,
      n: Int = 5,
      minShared: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchIdCol: String = "bench_id",
      maxShingleDf: Long = 1000L,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val cs = corpus.select(col(idCol), explode(wordShingles(col(textCol), n)).as("shingle"))
    // pin the (small-by-contract) bench shingles once: the count, the
    // bloom build, and the final exact join each re-scanned and
    // re-tokenized the bench side otherwise — three passes for one
    val bs = bench.select(col(benchIdCol), explode(wordShingles(col(textCol), n)).as("shingle"))
      .localCheckpoint()
    // occurrence count over-estimates the distinct-shingle cardinality,
    // which only makes the filter larger / the fpp lower — never wrong
    val nBench = math.max(bs.count(), 1L)
    val bloom = bs.stat.bloomFilter("shingle", nBench, fpp)
    val survivors = cs.filter(
      org.apache.spark.sql.graft.VectorExpressions.bloomProbe(col("shingle"), bloom))
    val rare = survivors.groupBy("shingle").agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxShingleDf)
      .select("shingle")
    survivors.join(rare, "shingle")
      .join(bs, "shingle")
      .groupBy(col(idCol), col(benchIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // -------------------------------------------------- chunk-level exact

  /** Chunk-level exact dedup: the boilerplate-removal pass every web
    * corpus needs (repeated cookie banners, license headers, nav text) —
    * whole-document hashing can't see a duplicated PARAGRAPH inside
    * otherwise-distinct documents. Documents are tokenized
    * ([[graft.text.TextAnalysis.tokens]]) and split into fixed
    * `chunkTokens`-token chunks; every chunk occurrence after the
    * corpus-wide first (minimum `(id, chunk_idx)` occurrence in the
    * total order) is dropped, and surviving chunks reassemble in
    * document order.
    *
    * Output: one row per input doc — (id, n_chunks, n_kept, clean_text).
    *
    * 100 TB shape: three keyed shuffles, none skew-fragile. The
    * first-occurrence table is a groupBy MIN on the 16-byte chunk md5 —
    * partial aggregation collapses a hot boilerplate chunk map-side, so
    * a chunk repeated 10⁹ times contributes one row per mapper, not a
    * hot reducer. The join back on the hash has probe-side skew on hot
    * chunks (AQE skew-split handles it), and the reassembly groupBy keys
    * on the doc id. The 128-bit hash keeps keys collision-free at
    * corpus scale (64 bits would birthday-collide past ~2³² distinct
    * chunks).
    *
    * `occ_key = id·2²⁰ + chunk_idx` packs the occurrence order into one
    * long (BOTH halves are asserted per row — ids in [0, 2⁴³), docs
    * below 2²⁰ chunks ≈ 26 M tokens — never silently wrapped: an id
    * past 2⁴³ or negative would otherwise flip which occurrence is
    * treated as first).
    *
    * NULL text counts as empty: the row survives with
    * (id, 0, 0, '') rather than vanishing from the output — the
    * one-row-per-input-doc contract holds for every input. */
  def chunkDedup(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkTokens: Int = 25): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    val maxChunks = 1L << 20
    val maxId = 1L << 43
    // stage the token array BEFORE the HOFs: interpreted lambdas
    // re-evaluate argument expressions per element (see TextAnalysis).
    // The empty-token filter matters only for the degenerate inputs:
    // split('') is [''], which would otherwise count as one phantom chunk
    val staged = df.select(col(idCol),
      filter(tokens(coalesce(col(textCol), lit(""))), x => x =!= lit("")).as("t"))
    val nChunks = floor((size(col("t")) + lit(chunkTokens - 1)).cast("double") / chunkTokens).cast("int")
    // posexplode_OUTER + the empty-array guard keep a zero-chunk doc
    // (empty/NULL text) as one all-null row instead of dropping it —
    // without the guard sequence(0, -1) would walk backwards and emit
    // two phantom chunks
    val chunked = staged
      .select(col(idCol), posexplode_outer(when(size(col("t")) > 0, transform(
        sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("t"), i * chunkTokens + 1, lit(chunkTokens)))))
        .otherwise(array())))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    val keyed = chunked.select(
      col(idCol), col("chunk_idx"), col("chunk"),
      // assert_true feeds the key arithmetic so the guard can't be
      // pruned: a doc past 2^20 chunks or an id outside [0, 2^43)
      // fails loudly instead of silently colliding occurrence keys
      // (the all-null zero-chunk row passes vacuously)
      (col(idCol) * maxChunks + col("chunk_idx") +
        coalesce(assert_true(col("chunk_idx").isNull ||
          (col("chunk_idx") < maxChunks &&
            col(idCol) >= 0 && col(idCol) < maxId)).cast("long"), lit(0L))).as("occ_key"),
      md5(col("chunk")).as("chunk_hash"))
    val firstOcc = keyed.groupBy("chunk_hash").agg(min("occ_key").as("min_key"))
    // LEFT join: the zero-chunk row has a NULL hash and must survive
    keyed.join(firstOcc, Seq("chunk_hash"), "left")
      .withColumn("kept", col("occ_key") === col("min_key"))
      .groupBy(col(idCol))
      .agg(
        count(col("chunk")).as("n_chunks"),
        coalesce(sum(col("kept").cast("long")), lit(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
  }

  /** Cross-document duplicated-span analysis — the ExactSubstr signal
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022, arXiv:2107.06499): for every document, how many
    * of its tokens sit inside an `n`-token span that also appears
    * verbatim in ANOTHER document, with overlapping spans merged before
    * counting (a token inside three overlapping duplicated 8-grams
    * counts once). Where [[chunkDedup]] removes duplicate FIXED chunks,
    * this measures duplication at every alignment — the signal the
    * suffix-array pass in the paper extracts, re-expressed as bucketed
    * relational algebra.
    *
    * Scale shape: one position explode (O(tokens) rows — the same cost
    * class as winnowing), a per-gram aggregate to find grams spanning
    * ≥2 docs (hash-bucketed, never all-pairs), an equi-join of
    * positions against that gram set (each position row matches at most
    * one gram row — no blowup), and a per-document window to merge
    * overlapping spans (gaps-and-islands; state bounded by document
    * length). Gram keys stay strings here for oracle parity — the
    * 100 TB variant would shuffle xxhash64(gram) instead, 8 bytes per
    * key with the same join structure.
    *
    * Output per input doc: (idCol, n_tokens, dup_tokens, dup_frac_q
    * [micro-quantized], flagged [≥ half the doc duplicated]). */
  def duplicatedSpans(
      df: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 2, s"span length must be at least 2, got $n")
    val staged = df.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val base = staged.select(col(idCol),
      size(col("toks")).cast("long").as("n_tokens"), col("toks"))
    // `grams` feeds both the dup-gram aggregate and the position join;
    // the explode deliberately recomputes (two scan-bound passes) —
    // caching O(tokens) exploded rows costs more memory than the
    // second pass costs time at any interesting corpus size
    val grams = base.select(col(idCol),
      posexplode(rawNgrams(col("toks"), n)).as(Seq("pos", "gram")))
    // grams seen in ≥2 distinct docs; the distinct-count is per gram,
    // map-side partial-aggregated like any hash agg
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") > 1)
      .select("gram")
    val dupPos = grams.join(dupGrams, "gram").select(col(idCol), col("pos"))
    // merge overlapping [pos, pos+n-1] spans per doc (gaps-and-islands):
    // a new island starts when this span begins past the running max
    // end; adjacency may split islands, which leaves covered-token
    // sums unchanged
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(n - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val covered = dupPos
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg((max(col("pos")) + lit(n - 1) - min(col("pos")) + 1L).as("span_len"))
      .groupBy(col(idCol))
      .agg(sum(col("span_len")).cast("long").as("dup_tokens"))
    val fracQ = floor(coalesce(col("dup_tokens"), lit(0L)).cast("double") * 1000000.0 /
      col("n_tokens").cast("double")).cast("long")
    base.drop("toks")
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        fracQ.as("dup_frac_q"),
        (fracQ >= 500000L).as("flagged"))
  }

  /** The REMOVAL half of ExactSubstr dedup (Lee et al. cut the
    * duplicated spans, they don't just count them): rewrite every
    * document with the tokens covered by any cross-document `n`-gram
    * span dropped. Same bucketed span algebra as [[duplicatedSpans]];
    * the merged islands aggregate to a per-doc interval list (bounded
    * by document length) that joins back and drives an indexed
    * higher-order filter over the token array — the rewrite itself is
    * a narrow map, no UDF. Output: (idCol, n_tokens, kept_tokens,
    * clean_text). */
  def scrubDuplicatedSpans(
      df: DataFrame,
      n: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 2, s"span length must be at least 2, got $n")
    val staged = df.select(col(idCol),
      tokens(coalesce(col(textCol), lit(""))).as("toks"))
    val base = staged.select(col(idCol),
      size(col("toks")).cast("long").as("n_tokens"), col("toks"))
    val grams = base.select(col(idCol),
      posexplode(rawNgrams(col("toks"), n)).as(Seq("pos", "gram")))
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") > 1)
      .select("gram")
    val dupPos = grams.join(dupGrams, "gram").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(n - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val spans = dupPos
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    val spansOrEmpty = coalesce(col("spans"),
      array().cast("array<struct<s:int,e:int>>"))
    // indexed HOF filter: token i survives unless some island covers i
    val keptToks = filter(col("toks"), (t, i) =>
      !exists(spansOrEmpty, sp => i >= sp.getField("s") && i <= sp.getField("e")))
    base.join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        size(keptToks).cast("long").as("kept_tokens"),
        array_join(keptToks, " ").as("clean_text"))
  }

  // ------------------------------------------- duplicate-cluster closure

  /** Connected components over a near-duplicate pair graph: every node
    * that appears in `pairs` is labeled with the smallest id reachable
    * from it — the canonical "duplicate cluster" id a curation pipeline
    * keys keep-one-per-cluster decisions on. Pair generators (MinHash /
    * SimHash / Jaccard / embedding bands) emit PAIRS; transitive overlap
    * (A~B, B~C but not A~C) still means A, B, C are one duplicate group,
    * which only the component closure exposes.
    *
    * Algorithm: distributed min-label propagation with pointer jumping.
    * Each round does (1) `label(v) ← min(label(v), min_{u∈N(v)} label(u))`
    * — one hash join + one groupBy on the symmetrized edge list — and
    * (2) `label(v) ← label(label(v))` (pointer jumping), which contracts
    * label chains so convergence needs O(log d) rounds for diameter-d
    * components rather than O(d). Near-dup components are dense clumps
    * with tiny diameter, so few rounds run: the perfbench
    * `corpus_curate` corpus closes with none.
    * Convergence is tested BEFORE each round: the labels are final iff
    * every edge's two endpoints carry the same label. That test is
    * exact: `label(v) ≤ v` always holds and no label drops below its
    * component's minimum, so the minimum node always labels itself,
    * and labels that agree on every edge are the component minima.
    * Star- and clique-shaped components (the common near-dup shapes)
    * are closed by the fused initialization alone and run no round.
    * The loop's driver side touches only that 1-row existence test,
    * never row data. At cluster scale swap `localCheckpoint` for a
    * reliable `checkpoint` (HDFS-backed) so executor loss cannot orphan
    * a round; the alternating large-star/small-star formulation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) is the drop-in upgrade if adversarially long chains ever
    * matter.
    *
    * Returns (id, cluster_id) for every node in `pairs`, cluster_id =
    * min id of the component. */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    // materialize the (possibly expensive) pair generator ONCE before
    // symmetrizing — union's two branches would otherwise each re-derive
    // the full candidate-join subplan
    val p0 = pairs
      .select(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst"))
      .localCheckpoint()
    val symmetric = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
    // initialization fused with the would-be first round: label₀(v) =
    // min(v, min neighbor) — exactly what one propagation round over
    // identity labels computes, for the price of the node-distinct
    // aggregation the identity init already paid. Start labels are
    // still ≥ the component minimum, so the monotone min-propagation
    // converges to the same fixpoint one round sooner. A duplicate
    // edge cannot change a min, so no distinct is needed here.
    var labels = symmetric.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .localCheckpoint()
    // only a round reads the deduplicated edge list: built on first use
    lazy val edges = symmetric.distinct().localCheckpoint()
    // the pairs as given suffice for the test: an edge agrees in both
    // directions or in neither
    def anyEdgeDisagrees(l: DataFrame): Boolean = !p0
      .join(l.select(col("id").as("src"), col("label").as("src_label")), "src")
      .join(l.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
      .filter(col("src_label") =!= col("dst_label"))
      .isEmpty
    var iter = 0
    // round lifecycle: propagate, pointer-jump, then one eager
    // localCheckpoint that materializes the round exactly once. The
    // checkpoint is load-bearing twice over: it truncates lineage (the
    // pointer-jump self-join embeds the round's subtree TWICE, so an
    // uncheckpointed plan doubles in size every round — exponential),
    // and unlike persist() it creates no session-lifetime CacheManager
    // entry — superseded rounds' blocks are ContextCleaner-reclaimed
    // once unreferenced, and the caller's result is itself one
    // checkpointed table reclaimed the same way when dropped.
    while (iter < maxIter && anyEdgeDisagrees(labels)) {
      val nbrMin = edges
        .join(labels.select(col("id").as("src"), col("label").as("src_label")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_label")).as("nbr_min"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // pointer jumping: follow the label one hop (labels are node ids,
      // so the label table maps them); halves chain length every round
      labels = propagated.as("p")
        .join(propagated.select(col("id").as("label"), col("label").as("parent")).as("q"),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("parent"), col("label")).as("label"))
        .localCheckpoint()
      iter += 1
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Build-once / probe-many form of the near-dup cluster map — the way
    * a real pipeline treats cluster ids: as a PERSISTED BUILD ARTIFACT
    * every downstream consumer (leakage-safe splits, dedup reports,
    * eval-set carving) joins against, instead of recomputing the
    * candidate join + connected components per consumer (at 100 TB the
    * closure is a multi-pass job you run once per corpus snapshot, not
    * per query). Same discipline as the persisted IVF layouts
    * ([[graft.index.Ivf.buildLayout]]): the (id, cluster_id) parquet is
    * reused only when the recorded corpus fingerprint (row count +
    * order-independent content hash) AND the build parameters match
    * the current call ([[graft.io.Artifact.ensure]]: the build runs
    * under the dir lock, and the sidecar is written LAST so a crashed
    * build never looks complete). Returns the artifact as a DataFrame
    * of (`idCol`, cluster_id) for every clustered doc. */
  def clusterArtifact(
      df: DataFrame,
      dir: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleDf: Long = 1000L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (nRows, hash, hashSum) =
      graft.io.Artifact.hashAgg(df, xxhash64(col(idCol), col(textCol)))
    val dataDir = s"$dir/clusters"
    graft.io.Artifact.ensure(dir, "_fingerprint.json", graft.io.Artifact.fingerprintJson(
        nRows, hash, "hsum" -> hashSum, "n" -> n.toString, "minJaccard" -> minJaccard.toString,
        "maxShingleDf" -> maxShingleDf.toString, "idCol" -> idCol, "textCol" -> textCol)) {
      connectedComponents(ngramJaccardPairs(df, n, minJaccard, idCol, textCol, maxShingleDf)
          .select("id_a", "id_b"))
        .withColumnRenamed("id", idCol)
        .write.mode("overwrite").parquet(dataDir)
    }
    df.sparkSession.read.parquet(dataDir)
  }
}
