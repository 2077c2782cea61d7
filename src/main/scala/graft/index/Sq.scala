package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) — the simplest rung of the ANN
  * compression ladder (the FAISS `ScalarQuantizer` QT_8bit idea,
  * Jégou et al.'s uniform-quantizer baseline): each dimension is
  * linearly mapped to one unsigned byte between its corpus-wide min
  * and max, so a d-dim float32 vector (4·d bytes) becomes d bytes — a
  * 4× compression with far lower distortion than PQ's 32× (the codes
  * keep per-dimension resolution instead of sharing a centroid per
  * subspace). The family completes the engine's quantization ladder:
  * 1-bit signatures (64× — [[Binary]]) < PQ/OPQ (32× — [[Pq]]) <
  * SQ8 (4× — this) < exact float32.
  *
  * Where it fits at 100 TB: SQ8 is the right choice when the codes
  * must fit in cluster memory but recall matters more than maximal
  * compression — its ADC top-k is usually exact-or-nearly-exact
  * (measured per round in the bench recall dict: `sq8_adc_at10`),
  * so the rerank shortlist can be small.
  *
  * Search uses asymmetric distance computation exactly like PQ: one
  * per-query table with 256 entries per dimension
  * (`t[d·256 + c] = (recon_d(c) − q_d)²`), then the per-row scan is d
  * byte-indexed lookups — which is precisely [[Pq]]'s ADC shape with
  * m = dim subspaces of k = 256, so the scan reuses the SAME codegen
  * kernel ([[org.apache.spark.sql.graft.VectorExpressions.pqAdc]]):
  * no new expression, no new plan shape, same bounded
  * TakeOrderedAndProject.
  *
  * The trainer is one distributed aggregation (per-dimension min/max
  * — exact, no sampling, no seed), so fits are bit-reproducible by
  * construction and the model is 2·d floats.
  */
object Sq {

  /** Hard cap on [[searchRerankBatch]]'s width — the documented safe
    * range for one wave (N ADC columns in one codegen select + N
    * TakeOrdered cuts over the checkpointed frame). Callers with more
    * queries compose waves. */
  val maxBatchWidth = 64

  /** Per-dimension quantization bounds: codes map [vmin(d), vmax(d)]
    * linearly onto [0, 255]. */
  final case class SqModel(dim: Int, vmin: Array[Float], vmax: Array[Float]) {
    require(vmin.length == dim && vmax.length == dim,
      s"bounds arrays must have length $dim")
  }

  /** Exact per-dimension min/max over the corpus: posexplode to
    * (dim, value) pairs, then ONE partial-aggregated groupBy — the
    * map-side combine reduces every task to ≤ dim rows before the
    * (dim-row) shuffle, so the explode never materializes. The collect
    * is dim-bounded. */
  def fit(df: DataFrame, embCol: String = "embedding"): SqModel = {
    val rows = df
      .select(posexplode(col(embCol)).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
    require(rows.nonEmpty, "cannot fit SQ8 on an empty corpus")
    val dim = rows.length
    // dim is inferred as the distinct-position count, so ragged or
    // sparse-dim input (a position with no coverage) must fail loudly
    // here — not as a bare ArrayIndexOutOfBounds below, or worse,
    // silent 0.0f bounds for an uncovered dimension
    val seen = rows.map(_.getInt(0)).sorted
    require(seen.sameElements(0 until dim),
      s"SQ8 fit needs every dimension 0..${dim - 1} covered; the corpus has " +
        s"ragged embedding lengths (observed positions: ${seen.mkString(",")})")
    val vmin = new Array[Float](dim)
    val vmax = new Array[Float](dim)
    rows.foreach { r =>
      val d = r.getInt(0)
      vmin(d) = r.getFloat(1)
      vmax(d) = r.getFloat(2)
    }
    SqModel(dim, vmin, vmax)
  }

  /** One dimension's byte code: round-to-nearest on the linear map to
    * [0, 255], clamped (query-time vectors may exceed the training
    * range); a degenerate dimension (vmin == vmax) codes to 0. All
    * arithmetic in float64 with an explicit floor(x + 0.5) so encode
    * is deterministic across JVMs. */
  private def codeOf(x: Float, lo: Float, hi: Float): Byte = {
    if (hi <= lo) 0.toByte
    else {
      val t = (x.toDouble - lo) * 255.0 / (hi.toDouble - lo)
      val c = math.floor(t + 0.5)
      (if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt).toByte
    }
  }

  /** Encode every row to `dim` one-byte codes (build step; broadcast
    * model, per-partition amortized — [[Pq.encode]]'s shape). Output:
    * (idCol, codes binary). */
  def encode(
      df: DataFrame,
      model: SqModel,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val ds: Dataset[(Long, Array[Float])] =
      df.select(col(idCol).cast("long"), col(embCol)).as[(Long, Array[Float])]
    ds.mapPartitions { it =>
      val m = bc.value
      it.map { case (id, v) =>
        require(v.length == m.dim, s"vector dim ${v.length} != model dim ${m.dim}")
        val codes = new Array[Byte](m.dim)
        var d = 0
        while (d < m.dim) { codes(d) = codeOf(v(d), m.vmin(d), m.vmax(d)); d += 1 }
        (id, codes)
      }
    }.toDF(idCol, "codes")
  }

  /** ADC lookup table for one query: `t[d·256 + c] = (recon_d(c) − q_d)²`
    * — dim·256 doubles (32 KB at dim 16), embedded per query like the
    * PQ table. */
  def adcTable(model: SqModel, query: Array[Float]): Array[Double] =
    adcTableD(model.vmin.map(_.toDouble), model.vmax.map(_.toDouble),
      query.map(_.toDouble))

  /** The double-typed ADC-table core — the float entry point above and
    * the SQL surface's `sq8_adc` function
    * ([[org.apache.spark.sql.graft.GraftFunctions]]) both route here,
    * so the two paths can never diverge bit-wise (float→double
    * conversion is exact, and every op below runs in float64 on both
    * routes). */
  def adcTableD(lo: Array[Double], hi: Array[Double], q: Array[Double]): Array[Double] = {
    require(lo.length == hi.length && lo.length == q.length,
      s"sq8_adc: lo/hi/query lengths must agree, got ${lo.length}/${hi.length}/${q.length}")
    require(lo.nonEmpty, "sq8_adc: empty bounds")
    val dim = lo.length
    val table = new Array[Double](dim * 256)
    var d = 0
    while (d < dim) {
      val l = lo(d)
      val h = hi(d)
      var c = 0
      while (c < 256) {
        val recon = if (h <= l) l else l + c * (h - l) / 255.0
        val diff = recon - q(d)
        table(d * 256 + c) = diff * diff
        c += 1
      }
      d += 1
    }
    table
  }

  /** Approximate top-k by SQ8 ADC over the encoded corpus — the same
    * codegen table-lookup scan and bounded TakeOrderedAndProject as
    * [[Pq.search]] (it IS that kernel, at m = dim, k = 256). */
  def search(
      encoded: DataFrame,
      model: SqModel,
      query: Array[Float],
      k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val table = adcTable(model, query)
    encoded
      .select(col(idCol),
        org.apache.spark.sql.graft.VectorExpressions
          .pqAdc(col("codes"), table, 256).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** SQ8 ADC shortlist + exact re-rank — the standard compressed-scan
    * pipeline, sharing [[Pq.rerankShortlist]]. With SQ8's low
    * distortion the true neighbors sit inside a modest shortlist, so
    * the result equals exact top-k (oracle-verified at every SF). */
  def searchRerank(
      encoded: DataFrame,
      corpus: DataFrame,
      model: SqModel,
      query: Array[Float],
      k: Int,
      shortlist: Int = 100,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    Pq.rerankShortlist(search(encoded, model, query, shortlist, idCol),
      corpus, query, k, idCol, embCol)

  /** BATCH SQ8 probe — N queries served by ONE pass over the codes:
    * the scan computes N codegen ADC columns (each query's plan-time
    * table rides its own PqAdcExpr) into a NARROW (id, N dists) frame
    * materialized once (`localCheckpoint` — 8·(N+1) bytes/row, about
    * one extra codes-copy at N=8, spillable; bound the batch width and
    * compose waves for very large N), then N codegen TakeOrdered
    * passes cut the per-query shortlists from that frame — every stage
    * whole-stage codegen, no row-by-row tuple serialization (a
    * stack+aggregator unpivot was measured SLOWER than N single probes
    * at 400k codes: the generator + Dataset encode cost on |corpus|·N
    * rows dominates). Each shortlist's (adist, id) order is IDENTICAL
    * to the single-query [[search]] order; the exact rerank joins the
    * true vectors once for ALL queries. N separate probes scan the
    * codes N times; this scans them once. Returns (query_id, vec_id,
    * dist, rank) with dist the exact float64 distance. */
  def searchRerankBatch(
      encoded: DataFrame,
      corpus: DataFrame,
      model: SqModel,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      shortlist: Int = 100,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.size <= maxBatchWidth,
      s"batch width ${queries.size} exceeds $maxBatchWidth: each query adds one " +
        "codegen ADC column (dim·256 doubles of plan constants) and one TakeOrdered " +
        "cut — wider batches degrade the plan; compose waves of ≤" +
        s"$maxBatchWidth queries instead")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch (per-query columns are id-keyed)")
    val spark = encoded.sparkSession
    import spark.implicits._
    val adcCols = queries.map { case (qid, q) =>
      org.apache.spark.sql.graft.VectorExpressions
        .pqAdc(col("codes"), adcTable(model, q), 256).as(s"_adc_$qid") }
    val scored = encoded
      .select((col(idCol) +: adcCols): _*)
      .localCheckpoint() // ONE codes scan feeds all N shortlist cuts
    val short = queries.map { case (qid, _) =>
      scored.select(lit(qid).as("query_id"), col(idCol),
          col(s"_adc_$qid").as("adist"))
        .orderBy(col("adist").asc, col(idCol).asc)
        .limit(shortlist)
    }.reduce(_ unionAll _).select(col("query_id"), col(idCol))
    val qDf = queries.map { case (qid, q) => (qid, q.toSeq) }
      .toDF("query_id", "q_embedding")
    val wFinal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist").asc, col(idCol).asc)
    corpus.select(col(idCol), col(embCol))
      .join(broadcast(short), Seq(idCol))
      .join(broadcast(qDf), Seq("query_id"))
      .select(col("query_id"), col(idCol),
        graft.functions.Distances.l2Sq(col(embCol), col("q_embedding")).as("dist"))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[searchRerankBatch]] for ANY batch width: N > [[maxBatchWidth]]
    * queries are composed as ceil(N / width) WAVES of ≤ width, each
    * wave one bounded batch plan, results unioned — the loud width
    * `require` becomes an implementation detail. Per-wave cost is the
    * measured batch shape (one codes scan + ≤64 codegen cuts); total
    * cost is waves × that, the same asymptote as one huge batch
    * without the plan-width cliff. Results are EXACTLY per-query
    * singles (each wave already is). */
  def searchRerankBatchWaved(
      encoded: DataFrame,
      corpus: DataFrame,
      model: SqModel,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      shortlist: Int = 100,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query ids in the batch (per-query columns are id-keyed)")
    queries.grouped(maxBatchWidth).toSeq
      .map(w => searchRerankBatch(encoded, corpus, model, w, k, shortlist,
        idCol, embCol))
      .reduce(_ unionAll _)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-SQ8: the FAISS IndexIVFScalarQuantizer composition — SQ8
    * codes written partitioned by the IVF cluster id, so a probe
    * prunes to nprobe/nlist of the (already 4×-compressed) codes
    * before the ADC scan; IO shrinks multiplicatively, and the codes
    * keep per-dimension resolution where IVF-PQ shares centroids.
    * Returns nothing; probe via [[searchIvfSq]]. */
  def writeIvfSqCodes(
      ivf: Ivf.Index,
      model: SqModel,
      df: DataFrame,
      dir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    // carry the cluster through the encode pass (re-joining by id
    // would rerun assignment plus a full shuffle — Pq.writeIvfPqCodes'
    // contract)
    val assigned = Ivf.assign(ivf, df, embCol)
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    assigned.select(col(idCol).cast("long"), col(embCol), col("cluster"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, v, cluster) =>
          require(v.length == m.dim, s"vector dim ${v.length} != model dim ${m.dim}")
          val codes = new Array[Byte](m.dim)
          var d = 0
          while (d < m.dim) { codes(d) = codeOf(v(d), m.vmin(d), m.vmax(d)); d += 1 }
          (id, codes, cluster)
        }
      }
      .toDF(idCol, "codes", "cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(dir)
  }

  /** Partition-pruned ADC shortlist over the IVF-SQ8 layout — follow
    * with [[Pq.rerankShortlist]] for the exact stage. */
  def searchIvfSq(
      spark: org.apache.spark.sql.SparkSession,
      layoutDir: String,
      ivf: Ivf.Index,
      model: SqModel,
      query: Array[Float],
      shortlist: Int,
      nprobe: Int,
      idCol: String = "vec_id"): DataFrame = {
    val clusters = Ivf.probeClusters(ivf, query, nprobe)
    val codes = spark.read.parquet(layoutDir)
      .filter(col("cluster").isin(clusters: _*))
    search(codes, model, query, shortlist, idCol)
  }

  // --------------------------------------------------- persisted index

  private val codesSidecar = "_sq8_codes.json"

  /** The code store as a versioned store ([[graft.io.MutableStore]]):
    * state in the fingerprint sidecar, base `codes` → `codes_v<N>`,
    * `delta_<tag>` (codes + `_stats.json`) and `tomb_<tag>` (ids +
    * `_stats.json`) legs at the dir root. */
  private def layoutOf(dir: String) = graft.io.MutableStore.Layout("Sq", dir,
    java.nio.file.Paths.get(dir, codesSidecar), flat = false, dir, Seq("codes_v"),
    Seq(s"$dir/codes"), () => Seq(java.nio.file.Paths.get(dir, "codes")),
    Seq(dir), "delta_", Some("_stats.json"), dir, "tomb_", Some("_stats.json"))

  /** The current BASE codes location: `codes` for a never-compacted
    * artifact, the sidecar's committed `codes_v<N>` after a
    * compaction (the versioned-swap protocol — see [[compactDeltas]]). */
  def codesPath(dir: String): String = graft.io.MutableStore.basePaths(layoutOf(dir)).head

  /** Operational introspection of the SQ8 code store — the vector-side
    * twin of [[graft.text.InvertedIndex.describeStore]]: one row per
    * metric over the committed state and the live mutation legs.
    * `n_codes` is the delta-aware live count (sidecar base count +
    * delta counts − live tombstone counts — the rows the next probe
    * will actually scan), so the output ties to the corpus definition
    * and an oracle can recompute it. Json reads only, no data
    * touched. */
  def describeStore(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = layoutOf(dir)
    val s = graft.io.MutableStore.snapOf(l) // ONE committed-state read — the report is torn-proof
    val baseCount = s.node.map(_.get("count").asLong()).getOrElse(0L)
    val deltaCount = s.live.map(l.deltaStats(_).get("count").asLong()).sum
    Seq(
      ("base_version", s.v.toLong),
      ("live_deltas", s.live.size.toLong),
      ("live_tombstones", s.tombs.size.toLong),
      ("n_codes", baseCount + deltaCount - s.tombs.map(_.stats.get.get("count").asLong()).sum)
    ).toDF("metric", "value")
  }

  /** Persist the model bounds + codes behind the fingerprint-sidecar
    * protocol — the build-once/probe-many shape of every other index
    * family. The sidecar's (count, hash, hsum) terms are MERGEABLE,
    * so [[compactDeltas]] can fold appended batches without rescanning
    * the source corpus — and the match is FIELD-SUBSET
    * ([[graft.io.Artifact.ensureJson]]), so a compacted sidecar (which
    * additionally carries the version pointer and folded lists) still
    * matches a fresh ensure over the same post-delete corpus and is
    * reused, never rebuilt. */
  def ensureCodesArtifact(
      df: DataFrame,
      dir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit = {
    val (nRows, dataHash, hashSum) = graft.io.Artifact.hashAgg(
      df, xxhash64(col(idCol), col(embCol).cast("array<double>")))
    graft.io.Artifact.ensureJson(dir, codesSidecar, Seq(
      "count" -> nRows.toString,
      "hash" -> dataHash.toString,
      "hsum" -> graft.io.Artifact.jsonStr(hashSum),
      "family" -> graft.io.Artifact.jsonStr("sq8_minmax"))) {
      val model = fit(df, embCol)
      df.sparkSession.createDataFrame(
          (0 until model.dim).map(d => (d, model.vmin(d), model.vmax(d))))
        .toDF("pos", "lo", "hi")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/bounds")
      encode(df, model, idCol, embCol)
        .write.mode("overwrite").parquet(s"$dir/codes")
      // a REBUILD means the corpus changed: stale version dirs, deltas
      // and tombstones belong to the old corpus (the fresh build's own
      // `codes` dir matches none of these prefixes)
      graft.io.MutableStore.entries(dir).filter(p => Seq("codes_v", "delta_", "tomb_")
          .exists(p.getFileName.toString.startsWith))
        .foreach(graft.io.MutableStore.deleteDir)
    }
  }

  /** The persisted artifact's quantization model (dim rows). */
  def modelFromArtifact(
      spark: org.apache.spark.sql.SparkSession, dir: String): SqModel = {
    val rows = spark.read.parquet(s"$dir/bounds").collect()
    val vmin = new Array[Float](rows.length)
    val vmax = new Array[Float](rows.length)
    rows.foreach { r =>
      vmin(r.getInt(0)) = r.getFloat(1); vmax(r.getInt(0)) = r.getFloat(2)
    }
    SqModel(rows.length, vmin, vmax)
  }

  /** DELETE a batch of vectors from the code store — the HNSW/IVF
    * tombstone pattern applied to the SQ8 artifact. The batch must be
    * the vectors' FULL rows (id + embedding: delete is the inverse of
    * append, and the embedding re-derives the mergeable fingerprint
    * terms), and each row must be LIVE — present exactly once across
    * base ∪ current deltas, not already tombstoned. Tag-keyed
    * OVERWRITE (idempotent under redelivery); the tombstone records
    * the legs it COVERS (base + live delta tags now), so a vector
    * re-appended later under a new tag is served again. Probes
    * anti-join each leg with only its covering tombstones; compaction
    * physically drops the rows and subtracts the terms.
    *
    * `excludeCovered`: delta tags the tombstone must NOT cover — a
    * CDC mutation batch passes its OWN tag so (a) a same-batch
    * delete+re-add leaves the re-add live (adds win within a batch)
    * and (b) an at-least-once redelivery, where the crashed attempt's
    * append delta for this tag already sits on disk, cannot record it
    * as covered and mask the batch's own appends. */
  def deleteVectors(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      excludeCovered: Set[String] = Set.empty): Unit =
      graft.io.MutableStore.writing(spark, dir, "Sq", "deleteVectors") {
    val (nRows, dataHash, hashSum) = graft.io.Artifact.hashAgg(
      batch, xxhash64(col(idCol), col(embCol).cast("array<double>")))
    val l = layoutOf(dir)
    val covered = graft.io.MutableStore.coveredLegs(l, excludeCovered)
      .map(t => "\"" + t + "\"").mkString("[", ",", "]")
    batch.select(col(idCol).cast("long").as(idCol)).distinct()
      .write.mode("overwrite").parquet(s"$dir/tomb_$tag/ids")
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, s"tomb_$tag", "_stats.json"),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum","covered":$covered}""")
    graft.io.MutableStore.commitMutation(l, tag, tomb = true)
  }

  /** Drop every delta and tombstone dir, returning the store to the
    * BASE snapshot its sidecar attests ([[graft.io.MutableStore.dropMutations]]). */
  def dropMutations(dir: String): Unit = graft.io.MutableStore.dropMutations(layoutOf(dir))

  /** Codes of the base and the `legs` delta tags of snapshot `s`, each
    * leg anti-joined with only the (broadcast, tiny) tombstones
    * covering it — so a vector re-appended after its delete is live
    * again. The union is positional, so every leg keeps the base's
    * column order. */
  private def codesOf(spark: org.apache.spark.sql.SparkSession, dir: String,
      s: graft.io.MutableStore.Snap, legs: Seq[String], idCol: String): DataFrame = {
    val base = spark.read.parquet(layoutOf(dir).basePaths(s.v).head)
    def masked(df: DataFrame, leg: String) =
      s.tombs.filter(_.covered.contains(leg))
        .map(t => spark.read.parquet(s"$dir/tomb_${t.tag}/ids"))
        .reduceOption(_ unionAll _)
        .fold(df)(m => df.join(broadcast(m.distinct().select(col(idCol))), Seq(idCol), "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*))
    legs.foldLeft(masked(base, "base")) { (acc, t) =>
      acc.unionAll(masked(spark.read.schema(base.schema).parquet(s"$dir/delta_$t/codes"), t))
    }
  }

  /** Codes over (base ∪ live deltas) − covering tombstones — the
    * probe's input. SNAPSHOT-PINNED: the whole leg set (base version
    * path, live delta tags, covering tombstones) resolves from ONE
    * committed sidecar read, and lagged GC keeps every named dir
    * readable through one subsequent compaction commit — a probe built
    * here serves wholly the pinned state even if a compaction commits
    * before it executes (spec: SnapshotPinSpec). */
  def codesWithDeltas(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "vec_id"): DataFrame = {
    val s = graft.io.MutableStore.snapOf(layoutOf(dir))
    codesOf(spark, dir, s, s.live, idCol)
  }

  /** Base/delta byte sizes for the size-ratio compaction policy. */
  def baseBytes(dir: String): Long = graft.io.MutableStore.baseBytes(layoutOf(dir))
  def deltaBytes(dir: String): Long = graft.io.MutableStore.deltaBytes(layoutOf(dir))

  /** Append a batch of new vectors ENCODED UNDER THE PERSISTED MODEL
    * (the FAISS trained-index contract: adding vectors never retrains
    * the quantizer — out-of-range values clamp, the re-rank stage
    * absorbs any extra distortion). Tag-keyed overwrite: idempotent
    * under at-least-once redelivery. The delta's stats json carries
    * the batch's mergeable fingerprint terms for [[compactDeltas]]. */
  def appendDelta(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      batch: DataFrame,
      tag: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
      graft.io.MutableStore.writing(spark, dir, "Sq", "appendDelta") {
    val (nRows, dataHash, hashSum) = graft.io.Artifact.hashAgg(
      batch, xxhash64(col(idCol), col(embCol).cast("array<double>")))
    val model = modelFromArtifact(spark, dir)
    encode(batch, model, idCol, embCol)
      .write.mode("overwrite").parquet(s"$dir/delta_$tag/codes")
    graft.io.Artifact.writeAtomic(
      java.nio.file.Paths.get(dir, s"delta_$tag", "_stats.json"),
      s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum"}""")
    graft.io.MutableStore.commitMutation(layoutOf(dir), tag, tomb = false)
  }

  def deltaDirCount(dir: String): Int = graft.io.MutableStore.deltaTags(layoutOf(dir)).size

  /** Standalone snapshot expiry for the SQ8 codes store
    * ([[graft.io.MutableStore.expire]]). Returns # priors expired. */
  def expireSnapshots(dir: String): Int = graft.io.MutableStore.expire(layoutOf(dir))

  /** Fold live deltas (minus `excludeTags` — redelivery safety) and
    * tombstones into a NEW base codes version
    * ([[graft.io.MutableStore.compact]]): per-leg tombstone anti-joins
    * drop deleted rows physically, and the committed sidecar carries
    * the merged fingerprint — tombstones whose covered legs all folded
    * are CONSUMED (terms subtracted), so a later [[ensureCodesArtifact]]
    * over the post-delete union corpus reuses instead of rebuilding.
    * The MODEL is untouched (trained-index contract). */
  def compactDeltas(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      excludeTags: Set[String] = Set.empty,
      idCol: String = "vec_id"): Unit =
    graft.io.MutableStore.compact(spark, layoutOf(dir), "compactDeltas", excludeTags) { f =>
      codesOf(spark, dir, f.snap, f.tags, idCol).write.mode("overwrite").parquet(f.building.head)
      f.mergedTerms()
    }
}
