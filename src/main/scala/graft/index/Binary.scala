package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.VectorSearch

/** Binary (1-bit) embedding signatures + Hamming retrieval — the
  * heaviest storage lever in the quantization ladder and the classic
  * first stage of production two-stage retrieval (Indyk & Motwani's
  * LSH hyperplane-sign family; Weiss/Torralba/Fergus "Spectral
  * Hashing" NeurIPS'08 thresholding; Norouzi/Punjani/Fleet "Fast
  * Search in Hamming Space" CVPR'12 for the scan stage). A 64-dim
  * float32 embedding (256 B) compresses to ONE 64-bit word (8 B,
  * 32×): bit i is set iff `embedding[i] > threshold[i]`.
  *
  * Thresholds are the per-dimension MIDRANGE `(min+max)/2`, not the
  * mean: min/max are ORDER-INDEPENDENT aggregates, so the fitted
  * threshold — and therefore every signature bit — is bit-identical
  * across partitionings, re-runs, AND the DuckDB oracle (a mean's
  * float summation order would differ per engine/partitioning and
  * could flip a boundary bit). Fitting is one tiny global aggregate
  * (64 (min,max) pairs), the signature build is a narrow map, and the
  * Hamming top-k is `bit_count(xor)` + TakeOrderedAndProject — no
  * shuffle anywhere but the k-row result.
  *
  * At 100 TB: the signature table is ~1/32 the corpus bytes and scans
  * at memory-bandwidth speed (one long per row, whole-stage codegen,
  * no array materialization); the exact rescore stage then touches
  * only the R shortlisted rows via an `isin` pushdown (parquet
  * row-group pruning on the id column), so full-precision vectors are
  * read for R rows, not the corpus. */
object Binary {

  /** Per-dimension midrange thresholds — one global (min,max)
    * aggregate, `dim` doubles to the driver (vocab-bounded collect:
    * 64 values, never corpus-sized). */
  def fitThresholds(
      df: DataFrame,
      dim: Int,
      embCol: String = "embedding"): Array[Double] = {
    val rows = df
      .select(posexplode(col(embCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(
        min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
      .collect()
    require(rows.length == dim, s"expected $dim dims, got ${rows.length}")
    val out = new Array[Double](dim)
    rows.foreach { r =>
      out(r.getInt(0)) = (r.getDouble(1) + r.getDouble(2)) / 2.0
    }
    out
  }

  /** The signature expression: bit i set iff `emb[i] > thresholds(i)`.
    * A chain of 64 when/shiftleft terms OR-folded — pure codegen, one
    * long out, no intermediate array. (Distinct bits make `|` and `+`
    * equivalent; `|` states the intent.) */
  def sigExpr(emb: Column, thresholds: Array[Double]): Column =
    thresholds.zipWithIndex.map { case (t, i) =>
      when(element_at(emb, i + 1).cast("double") > lit(t), lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** (idCol, sig) — the persisted-index shape: 8 bytes of signature
    * per vector. Narrow map, no shuffle. */
  def signatures(
      df: DataFrame,
      thresholds: Array[Double],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    df.select(col(idCol), sigExpr(col(embCol), thresholds).as("sig"))

  /** Signature of one query vector (driver-side, same arithmetic as
    * [[sigExpr]] so query and corpus bits can never diverge). */
  def signatureOf(vec: Seq[Float], thresholds: Array[Double]): Long = {
    require(vec.length == thresholds.length,
      s"dim mismatch: ${vec.length} vs ${thresholds.length}")
    var sig = 0L
    var i = 0
    while (i < vec.length) {
      if (vec(i).toDouble > thresholds(i)) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Hamming top-k over a signature table: `bit_count(sig XOR qsig)`
    * ascending, ties to ascending id (the engine-wide determinism
    * pin). One narrow scan + TakeOrderedAndProject. */
  def hammingTopK(
      sigs: DataFrame,
      qsig: Long,
      k: Int,
      idCol: String = "vec_id"): DataFrame =
    sigs
      .select(col(idCol),
        bit_count(col("sig").bitwiseXOR(lit(qsig))).as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)

  /** BATCHED Hamming top-k — N query signatures served by ONE pass
    * over the 8-byte signature table: the scan computes N
    * `bit_count(sig XOR qsig_i)` columns into a narrow frame
    * materialized once, then N codegen TakeOrdered cuts (the SQ8
    * batch-probe device — per-query (hamming, id) order identical to
    * the single-query [[hammingTopK]]). N separate probes scan the
    * signatures N times; this scans them once. Returns
    * (query_id, vec_id, hamming). */
  def hammingTopKBatch(
      sigs: DataFrame,
      queries: Seq[(Long, Long)],
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(queries.nonEmpty, "need at least one query signature")
    require(queries.size <= graft.index.Sq.maxBatchWidth,
      s"batch width ${queries.size} exceeds ${graft.index.Sq.maxBatchWidth}: each " +
        "query adds one bit_count column and one TakeOrdered cut — compose waves " +
        "instead (the Sq.searchRerankBatch contract)")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch (per-query columns are id-keyed)")
    val hamCols = queries.map { case (qid, qsig) =>
      bit_count(col("sig").bitwiseXOR(lit(qsig))).as(s"_h_$qid") }
    val scored = sigs
      .select((col(idCol) +: hamCols): _*)
      .localCheckpoint() // ONE signature scan feeds all N cuts
    queries.map { case (qid, _) =>
      scored.select(lit(qid).as("query_id"), col(idCol),
          col(s"_h_$qid").as("hamming"))
        .orderBy(col("hamming").asc, col(idCol).asc)
        .limit(k)
    }.reduce(_ unionAll _)
      .orderBy(col("query_id"), col("hamming"), col(idCol))
  }

  /** [[hammingTopKBatch]] for ANY batch width: waves of
    * ≤ [[graft.index.Sq.maxBatchWidth]] queries, results unioned —
    * the Sq.searchRerankBatchWaved composition applied to the binary
    * rung. */
  def hammingTopKBatchWaved(
      sigs: DataFrame,
      queries: Seq[(Long, Long)],
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(queries.nonEmpty, "need at least one query signature")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch (per-query columns are id-keyed)")
    queries.grouped(graft.index.Sq.maxBatchWidth).toSeq
      .map(w => hammingTopKBatch(sigs, w, k, idCol))
      .reduce(_ unionAll _)
      .orderBy(col("query_id"), col("hamming"), col(idCol))
  }

  private val sigSidecar = "_binary_sigs.json"

  /** The signature store as a versioned store ([[graft.io.MutableStore]]):
    * state in the fingerprint sidecar, base `sigs` → `sigs_v<N>`,
    * `tomb_<tag>` (ids + `_stats.json`) legs; no deltas. The store's
    * one handle: callers apply the [[graft.io.MutableStore]] lifecycle
    * primitives (expiry, replay reset) to it. */
  private[graft] def layoutOf(dir: String) = graft.io.MutableStore.Layout("Binary", dir,
    java.nio.file.Paths.get(dir, sigSidecar), flat = false, dir, Seq("sigs_v"),
    Seq(s"$dir/sigs"), () => Seq(java.nio.file.Paths.get(dir, "sigs")),
    Seq(dir), "delta_", Some("_stats.json"), dir, "tomb_", Some("_stats.json"))

  /** The current BASE signature location: `sigs` for a never-compacted
    * artifact, the sidecar's committed `sigs_v<N>` after a tombstone
    * compaction (the engine-wide versioned-swap protocol). */
  def sigsPath(dir: String): String = graft.io.MutableStore.basePaths(layoutOf(dir)).head

  /** Persist thresholds + signatures behind the shared
    * fingerprint-sidecar protocol ([[graft.io.Artifact]]): corpus
    * content hash + dim, so repeat probes pay an 8-byte-per-row scan
    * of the persisted table instead of re-reading the full-precision
    * corpus. The build-once/probe-many shape every other index in
    * this engine follows (IVF layouts, BM25 postings). Field-subset
    * sidecar match: a tombstone-compacted store (whose sidecar also
    * carries the version pointer) still matches a fresh ensure over
    * the post-delete corpus and is reused. */
  def ensureSignatureArtifact(
      df: DataFrame,
      dir: String,
      dim: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val (nRows, dataHash, hashSum) = graft.io.Artifact.hashAgg(
      df, org.apache.spark.sql.functions.xxhash64(
        col(idCol), col(embCol).cast("array<double>")))
    graft.io.Artifact.ensureJson(dir, sigSidecar, Seq(
      "count" -> nRows.toString,
      "hash" -> dataHash.toString,
      "hsum" -> graft.io.Artifact.jsonStr(hashSum),
      "dim" -> graft.io.Artifact.jsonStr(dim.toString),
      "family" -> graft.io.Artifact.jsonStr("binary_midrange"))) {
      val thr = fitThresholds(df, dim, embCol)
      df.sparkSession.createDataFrame(
          thr.toIndexedSeq.zipWithIndex.map { case (t, i) => (i, t) })
        .toDF("pos", "t")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/thresholds")
      signatures(df, thr, idCol, embCol)
        .write.mode("overwrite").parquet(s"$dir/sigs")
      // a rebuild means the corpus changed — stale versions/tombstones go
      graft.io.MutableStore.entries(dir).filter(p => Seq("sigs_v", "tomb_")
          .exists(p.getFileName.toString.startsWith))
        .foreach(graft.io.MutableStore.deleteDir)
    }
  }

  /** DELETE a batch of vectors from the signature store: a tag-keyed
    * tombstone (ids + the batch's mergeable fingerprint terms, derived
    * from the provided FULL rows — the delete-is-inverse-of-append
    * contract shared with the SQ8/posting stores). Thresholds are
    * NEVER refit (trained-index contract: the quantizer attests the
    * training corpus, deletes don't move it). Idempotent overwrite;
    * rows must be live. Probes via [[liveSignatures]] exclude the ids
    * immediately; [[compactSignatures]] drops them physically. */
  def deleteFromArtifact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
      graft.io.MutableStore.writing(spark, dir, "Binary", "deleteFromArtifact") {
    val (nRows, dataHash, hashSum) = graft.io.Artifact.hashAgg(
      batch, org.apache.spark.sql.functions.xxhash64(
        col(idCol), col(embCol).cast("array<double>")))
    batch.select(col(idCol).cast("long").as(idCol)).distinct()
      .write.mode("overwrite").parquet(s"$dir/tomb_$tag/ids")
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, s"tomb_$tag", "_stats.json"),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum"}""")
    graft.io.MutableStore.commitMutation(layoutOf(dir), tag, tomb = true)
  }

  /** The persisted artifact's thresholds (dim doubles) + signature
    * table — the probe side reads ONLY these. */
  def thresholdsFromArtifact(
      spark: org.apache.spark.sql.SparkSession, dir: String): Array[Double] = {
    val rows = spark.read.parquet(s"$dir/thresholds").collect()
    val out = new Array[Double](rows.length)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  /** The RAW persisted signature table (tombstones not applied — use
    * [[liveSignatures]] on a store that takes deletes). */
  def signaturesFromArtifact(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(sigsPath(dir))

  /** Signatures minus live tombstones — the probe input of a store
    * with deletes: one broadcast anti-join of the (tiny) tombstoned id
    * set over the 8-byte-per-row scan. Snapshot-pinned: base path and
    * tombstone set from ONE state read. */
  def liveSignatures(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "vec_id"): DataFrame =
    liveOf(spark, dir, graft.io.MutableStore.snapOf(layoutOf(dir)), idCol)

  private def liveOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      s: graft.io.MutableStore.Snap, idCol: String): DataFrame = {
    val base = spark.read.parquet(layoutOf(dir).basePaths(s.v).head)
    if (s.tombs.isEmpty) base
    else base.join(
      broadcast(s.tombTags.map(t => spark.read.parquet(s"$dir/tomb_$t/ids"))
        .reduce(_ unionAll _).distinct().select(col(idCol))),
      Seq(idCol), "left_anti")
  }

  /** Physically drop tombstoned rows into a NEW `sigs_v<N>` version
    * ([[graft.io.MutableStore.compact]]): the committed sidecar carries
    * the subtracted fingerprint terms (a fresh ensure over the
    * post-delete corpus then REUSES the store) and the emptied
    * liveTombs list. */
  def compactSignatures(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "vec_id"): Unit =
    graft.io.MutableStore.compact(spark, layoutOf(dir), "compactSignatures", Set.empty) { f =>
      liveOf(spark, dir, f.snap, idCol).write.mode("overwrite").parquet(f.building.head)
      f.mergedTerms()
    }

  /** Two-stage retrieval: Hamming shortlist of `shortlist` ids over
    * the 8-byte signatures, then exact float64 L2 rescore of ONLY
    * those rows — the bounded (≤ `shortlist`) id set returns to the
    * driver and re-enters as an `isin` predicate, which reaches the
    * parquet scan as a pushed filter (row-group pruning; the
    * full-precision corpus is read for R rows, not rescanned). */
  def hammingRescoreTopK(
      corpus: DataFrame,
      sigs: DataFrame,
      queryVec: Seq[Float],
      thresholds: Array[Double],
      k: Int,
      shortlist: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val qsig = signatureOf(queryVec, thresholds)
    val ids = hammingTopK(sigs, qsig, shortlist, idCol)
      .collect().map(_.getLong(0))
    VectorSearch.knnExact(
      corpus.filter(col(idCol).isin(ids.toIndexedSeq: _*)),
      queryVec, k, idCol, embCol)
  }
}
