package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) entity resolution with DELETION-NEIGHBORHOOD
  * blocking — the FastSS / SymSpell family (Bocek, Hunt, Stiller:
  * "Fast Similarity Search in Large Dictionaries", U. Zurich TR
  * ifi-2007.02; public algorithm): a string's signature set is itself
  * plus every variant with `maxDist` characters deleted. Two strings
  * within edit distance k ALWAYS share a signature — a substitution
  * at position i gives del_i(s) = del_i(t); an insertion into s of t
  * gives del_j(s) = t ∈ sig(t); equality shares the string itself —
  * so blocking on the signature is provably COMPLETE for ed ≤ k, any
  * lengths. (The earlier segment/PassJoin formulation is complete
  * too, but its k+1-way split sends ALL rows of a shared-prefix
  * registry — serial numbers, `Customer#…` keys — into ONE bucket
  * and the join goes quadratic; deletion variants carry every
  * position's entropy, so a constant prefix never forms a hot key.)
  *
  * The declared queries' oracles BRUTE-FORCE the pair space in
  * DuckDB, so the hash gate doubles as a completeness proof of the
  * blocking on the test corpus.
  *
  * 100 TB shape: the signature explode is a narrow map ×(L+1) rows
  * for k=1 (×O(L²/2) for k=2) — the FastSS trade, sized for SHORT
  * keys (ids, serials, titles; `maxLen` guards the contract);
  * candidates are a hash-partitioned equi-join on the signature with
  * the small (probe) side broadcast, deduped before the exact
  * `levenshtein` filter (a codegen'd Spark built-in) — never an
  * all-pairs product, and bucket volume follows signature
  * frequencies, not prefix skew. */
object FuzzyJoin {

  /** All distinct strings obtained from `s` by deleting at most
    * `dels` characters (including `s` itself), as a column expression:
    * dels=1 → [s, del_0(s), …, del_{L-1}(s)]. Implemented with
    * array-of-positions transforms so it stays codegen. */
  private def delVariants(name: Column, dels: Int): Column = {
    require(dels == 1 || dels == 2, s"maxDist must be 1 or 2, got $dels")
    val del1 = transform(
      sequence(lit(1), length(name)),
      i => concat(name.substr(lit(1), i - lit(1)), name.substr(i + lit(1), length(name))))
    val sigs1 = array_union(array(name), del1)
    if (dels == 1) sigs1
    else array_distinct(flatten(transform(sigs1, v =>
      array_union(array(v), transform(
        sequence(lit(1), length(v)),
        i => concat(v.substr(lit(1), i - lit(1)), v.substr(i + lit(1), length(v))))))))
  }

  /** (sig, …) rows: each input row exploded to its deletion
    * signatures. Rows longer than `maxLen` chars are rejected — the
    * signature volume is the FastSS trade and this operator's
    * contract is short keys. */
  private def signatures(
      df: DataFrame, nameCol: String, dels: Int, maxLen: Int): DataFrame = {
    // the guard lives INSIDE the signature expression (a pruned side
    // column would never evaluate); nulls normalize to "" first
    val safe = coalesce(col(nameCol), lit(""))
    val guarded = coalesce(when(length(safe) <= maxLen, safe),
      raise_error(concat(
        lit(s"fuzzy blocking contract: name longer than $maxLen chars: "),
        safe)).cast("string"))
    df.select(col("*"), explode(delVariants(guarded, dels)).as("sig"))
  }

  /** Resolve each dirty `probes` record against the big `registry`:
    * all registry rows within `maxDist` edits of a probe, found via
    * deletion-neighborhood blocking + exact levenshtein. Output:
    * (probeIdCol, registryIdCol, dist INT). */
  def fuzzyLookup(
      registry: DataFrame,
      probes: DataFrame,
      registryIdCol: String,
      registryNameCol: String,
      probeIdCol: String,
      probeNameCol: String,
      maxDist: Int,
      maxLen: Int = 64): DataFrame = {
    val reg = signatures(
      registry.select(col(registryIdCol), col(registryNameCol)),
      registryNameCol, maxDist, maxLen)
    val prb = signatures(
      probes.select(col(probeIdCol), col(probeNameCol)),
      probeNameCol, maxDist, maxLen)
    val cand = reg.join(broadcast(prb), Seq("sig"))
      .select(col(probeIdCol), col(registryIdCol),
        col(probeNameCol), col(registryNameCol))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col(probeNameCol), col(registryNameCol)))
      .filter(col("dist") <= lit(maxDist))
      .select(col(probeIdCol), col(registryIdCol), col("dist"))
  }

  private val storeSidecar = "_graft_fuzzystore_sidecar.json"

  /** Idempotently materialize the FUZZY-REGISTRY STORE for `registry`
    * at `dir`: the FastSS posting table (sig, store_id, store_name) —
    * the durable index a crawl loop resolves each new batch against
    * (the entity-resolution leg of the incremental triple, next to
    * the exact-dup hash store and the near-dup shingle store). Same
    * fingerprint-sidecar discipline: covers (id, name) content and
    * every blocking parameter. Postings are ~(L+1) short rows per
    * name — an index artifact sized for short keys, never a corpus
    * copy. */
  def ensureFuzzyStore(
      spark: org.apache.spark.sql.SparkSession,
      registry: DataFrame,
      dir: String,
      idCol: String,
      nameCol: String,
      maxDist: Int = 1,
      maxLen: Int = 64): Unit = {
    val (nRows, dataHash, hashSum) =
      graft.io.Artifact.hashAgg(registry, xxhash64(col(idCol), col(nameCol)))
    graft.io.Artifact.ensure(dir, storeSidecar,
      graft.io.Artifact.fingerprintJson(nRows, dataHash,
        "hsum" -> hashSum, "idCol" -> idCol, "nameCol" -> nameCol,
        "maxDist" -> maxDist.toString, "maxLen" -> maxLen.toString)) {
      signatures(
          registry.select(col(idCol).cast("long").as("store_id"),
            col(nameCol).as("store_name")),
          "store_name", maxDist, maxLen)
        .select(col("sig"), col("store_id"), col("store_name"))
        .write.mode("overwrite").parquet(dir)
    }
  }

  // ---- fuzzy-store takedown (the engine-wide mutable-store protocol,
  // machinery shared via [[graft.io.MutableStore]]) ------------------------

  import graft.io.MutableStore

  /** The fuzzy store: the FLAT layout ([[graft.io.MutableStore.flatLayout]]).
    * The store's one handle: callers apply the [[graft.io.MutableStore]]
    * lifecycle primitives (feeds, expiry, replay reset, tags, rollback)
    * to it. */
  private[graft] def flatOf(dir: String) = MutableStore.flatLayout(dir, "FuzzyJoin")

  /** TAKEDOWN from the fuzzy signature store: a scrubbed entity's
    * deletion-neighborhood postings are derived data too. Ids-only
    * contract (postings are keyed by store_id); covered legs = base +
    * live delta tags now, so an entity re-registered AFTER the
    * takedown (a later delta) resolves again. Tag-keyed idempotent
    * overwrite — one tiny write, never a posting scan. */
  def deleteFromFuzzyStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      ids: DataFrame,
      tag: String,
      idCol: String = "store_id",
      excludeCovered: Set[String] = Set.empty): Unit =
      MutableStore.writing(spark, storeDir, "FuzzyJoin", "deleteFromFuzzyStore") {
    val l = flatOf(storeDir)
    val covered = MutableStore.coveredLegs(l, excludeCovered)
    ids.select(col(idCol).cast("long").as("store_id")).distinct()
      .write.mode("overwrite").parquet(s"${l.tombDir(tag)}/ids")
    MutableStore.writeTombStats(storeDir, tag, covered)
    MutableStore.commitMutation(l, tag, tomb = true)
  }

  /** The fuzzy store, leg-masked ([[graft.io.MutableStore.readFlat]]):
    * snapshot `s`'s base version plus its live delta legs, minus
    * tombstoned store_ids on the legs each tombstone covers. */
  private def readFuzzyStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeTags: Set[String],
      s: Option[MutableStore.Snap] = None): DataFrame = {
    val l = flatOf(dir)
    MutableStore.readFlat(spark, l, s.getOrElse(MutableStore.snapOf(l)), excludeTags,
      "ids", Seq("store_id"))
  }

  /** Fold live deltas + consumed tombstones into a fresh versioned
    * base (`base_v<N>`) under one atomic state commit — the
    * engine-wide versioned-swap protocol
    * ([[graft.io.MutableStore.compact]]). Single-writer. */
  def compactFuzzyStore(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      excludeTags: Set[String] = Set.empty): Unit =
    MutableStore.compactFlat(spark, flatOf(dir), "compactFuzzyStore", excludeTags,
      "ids", Seq("store_id"))

  /** The persisted fuzzy store as a LAZY DataFrame — current base
    * version ∪ committed live deltas, minus covering tombstones,
    * resolved from ONE committed-state read (the snapshot-pinned-probe
    * contract: a view built here serves wholly the pinned state even
    * if a compaction commits before it executes — lagged GC keeps its
    * files readable through one concurrent commit). Columns
    * (sig, store_id, store_name). */
  def fuzzyStoreView(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    readFuzzyStore(spark, dir, Set.empty)

  /** TIME-TRAVEL view (the `VERSION AS OF` analogue): the store as of
    * committed version `version`. The current version resolves to the
    * live view (base + live deltas − tombstones); a RETAINED prior
    * replays the snapshot exactly as it was when the superseding
    * commit retired it — the retention machinery already keeps its
    * files on disk, this read just resolves them. Loud error naming
    * the readable versions otherwise. */
  def fuzzyStoreViewAt(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      version: Int): DataFrame = {
    val st = MutableStore.state(dir)
    if (st.v == version) readFuzzyStore(spark, dir, Set.empty)
    else readFuzzyStore(spark, dir, Set.empty,
      Some(MutableStore.snapAt(flatOf(dir), MutableStore.priorRefOf(dir, st, version))))
  }

  /** The store exactly as the tag captured it — the tag's own
    * reference set, NOT the version's retirement state: deltas
    * committed after the tag are not in the view. */
  def fuzzyStoreViewAtTag(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): org.apache.spark.sql.DataFrame = {
    readFuzzyStore(spark, dir, Set.empty,
      Some(MutableStore.snapAt(flatOf(dir), MutableStore.resolveTag(dir, name))))
  }

  /** Resolve a crawl `batch` against the persisted fuzzy store AND
    * against its own earlier rows, then append the NOVEL rows'
    * postings for the next batch — the incremental-store contract
    * ([[graft.dedup.Dedup.incrementalDedupBatch]]'s shape for fuzzy
    * names). Verdict per batch row: `dup_of`/`dist` = the best match
    * by (distance, id) over store matches ∪ earlier in-batch matches,
    * `is_new` = no match within `maxDist`. A `batchTag` makes the
    * posting append an idempotent `delta_<tag>` overwrite (and the
    * batch never sees its own possibly-partial delta).
    *
    * 100 TB shape: the store is the big side and is NEVER shuffled —
    * batch signatures broadcast into the posting scan, matches come
    * back batch-bounded; the in-batch leg is [[fuzzySelfPairs]] over
    * one micro-batch. Executor state zero; durable memory is the
    * posting artifact. */
  def incrementalFuzzyResolveBatch(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String,
      batch: DataFrame,
      idCol: String,
      nameCol: String,
      maxDist: Int = 1,
      maxLen: Int = 64,
      batchTag: Option[String] = None): DataFrame =
      MutableStore.writing(spark, storeDir, "FuzzyJoin", "incrementalFuzzyResolveBatch") {
    val b = batch.select(col(idCol).cast("long").as("_bid"), col(nameCol).as("_bn"))
    val bs = signatures(b, "_bn", maxDist, maxLen)
    // current base version plus live delta legs, minus covering
    // tombstones; the retried batch's own delta leg is excluded
    val store = readFuzzyStore(spark, storeDir, batchTag.toSet)
    val cand = store
      .join(broadcast(bs.select(col("sig"), col("_bid"), col("_bn"))), Seq("sig"))
      .select(col("_bid"), col("_bn"), col("store_id"), col("store_name"))
      .distinct()
    val storeM = cand
      .withColumn("d", levenshtein(col("_bn"), col("store_name")))
      .filter(col("d") <= lit(maxDist))
      .select(col("_bid"), struct(col("d").as("dist"), col("store_id").as("mid")).as("m"))
    val inB = fuzzySelfPairs(b, "_bid", "_bn", maxDist, maxLen)
      .select(col("id2").as("_bid"), struct(col("dist"), col("id1").as("mid")).as("m"))
    val best = storeM.union(inB).groupBy(col("_bid")).agg(min(col("m")).as("m"))
    // bounded: batch-sized — materialize once for verdicts AND the
    // delta append (the append must not re-read the store it writes)
    val verdicts = b.join(best, Seq("_bid"), "left").localCheckpoint()
    val novelSigs = signatures(
        verdicts.filter(col("m").isNull)
          .select(col("_bid").as("store_id"), col("_bn").as("store_name")),
        "store_name", maxDist, maxLen)
      .select(col("sig"), col("store_id"), col("store_name"))
    batchTag match {
      case Some(tag) =>
        novelSigs.write.mode("overwrite").parquet(s"$storeDir/delta_$tag")
        MutableStore.commitMutation(flatOf(storeDir), tag, tomb = false)
      case None =>
        novelSigs.write.mode("append").parquet(storeDir)
    }
    verdicts.select(col("_bid").as(idCol),
      col("m").isNull.as("is_new"),
      col("m.mid").as("dup_of"),
      col("m.dist").as("dist"))
  }

  /** Registry SELF-dedup: all unordered pairs (id1 < id2) within
    * `maxDist` edits via the same signature blocking as a
    * hash-partitioned self-equi-join — the fuzzy-duplicate-pair
    * operator for a dirty registry, complete for ed ≤ maxDist.
    * Output: (id1, id2, dist INT). */
  def fuzzySelfPairs(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      maxDist: Int,
      maxLen: Int = 64): DataFrame = {
    val segs = signatures(df.select(col(idCol), col(nameCol)), nameCol, maxDist, maxLen)
    val left = segs.select(col("sig"), col(idCol).as("id1"), col(nameCol).as("n1"))
    val right = segs.select(col("sig"), col(idCol).as("id2"), col(nameCol).as("n2"))
    left.join(right, Seq("sig"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"))
      .distinct()
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= lit(maxDist))
      .select(col("id1"), col("id2"), col("dist"))
  }
}
