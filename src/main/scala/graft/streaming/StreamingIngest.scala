package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.dedup.Dedup
import graft.index.{Ann, Hnsw, Ivf, Sq}
import graft.io.MutableStore
import graft.ops.FuzzyJoin
import graft.text.{InvertedIndex, TextAnalysis}

/** Structured-Streaming extensions (SURVEY §7.2 item 7).
  *
  * The reference is strictly batch request/response (SURVEY §1.6); these
  * operators are the charter's streaming surface: continuous vector/doc
  * ingest, watermarked windowed aggregation, streaming dedup, and the
  * streaming analogue of O6 `rebuild` — a periodic LSH refit via
  * `foreachBatch` (the reference rebuilds its index on every load,
  * `/root/reference/src/vectordb.cpp:216-217`; here the refit cadence is
  * explicit and the model is persisted, fixing the never-persisted-index
  * gap `main.cpp:125-126`).
  *
  * Scale: every operator keeps bounded state — watermarks expire window
  * and dedup state; the LSH refit samples the batch. Nothing accumulates
  * unbounded driver memory.
  */
object StreamingIngest {

  /** Pipeline identity for store-delta tags: md5 of the checkpoint
    * path. A RETRY of a micro-batch (same checkpoint lineage) reuses
    * its tag — idempotent overwrite; a DIFFERENT pipeline sharing the
    * store (fresh checkpoint, batch ids restarting at 0) gets a
    * different tag, so its deltas never collide with — or get excluded
    * as — another pipeline's. */
  private def pipelineTag(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** The one lifecycle of every batch-tagged sink: a checkpointed
    * `AvailableNow` foreachBatch query whose `body` gets each
    * micro-batch with its tag `<pipeline>_b<batchId>` — the key every
    * store delta, tombstone and sink subdir is written under, so an
    * at-least-once redelivery overwrites its own outputs. */
  private def taggedSink(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, String) => Unit): StreamingQuery = {
    val pipeline = pipelineTag(checkpoint)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => body(batch, s"${pipeline}_b$batchId") }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Continuous append ingest into the parquet-backed vector store. */
  def ingest(stream: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())

  /** Tumbling-window event counts with a watermark bounding state: late
    * rows beyond `delay` are dropped and their windows finalized. */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      delay: String = "10 minutes",
      tsCol: String = "ts",
      keyCol: String = "event_type"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col(keyCol),
        col("n_events"))

  /** Streaming exact dedup: drop rows whose normalized-content hash was
    * already seen within the watermark horizon. State is the hash set,
    * expired by the watermark — bounded, unlike a global distinct.
    *
    * MUST be `dropDuplicatesWithinWatermark`, not `dropDuplicates`:
    * plain dropDuplicates only evicts state when the event-time column
    * is itself one of the dedup keys — keyed on the hash alone it keeps
    * every hash forever, silently unbounded no matter what watermark is
    * set. The WithinWatermark form is the operator Spark added for
    * exactly this key-without-time shape: first occurrence wins, a
    * key's state is dropped once the watermark passes its event time,
    * and a duplicate arriving beyond the horizon re-emits — the honest
    * streaming-dedup contract (the corpus-wide exact pass stays the
    * batch refine stage, as with the near-dup family). */
  def streamingDedup(
      docsStream: DataFrame,
      delay: String = "1 hour",
      tsCol: String = "ts",
      textCol: String = "text"): DataFrame =
    docsStream
      .withColumn("content_hash", TextAnalysis.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming curation: [[graft.text.Curation.curate]]'s per-row gates
    * (language, quality) plus watermark-bounded exact dedup as one
    * unbounded pipeline — the ingest-side half of a curation deployment.
    * The near-dup stage stays a periodic BATCH pass over the streamed
    * survivors: its candidate joins are corpus-wide by nature, which no
    * watermark can bound (the standard streaming-ingest/batch-refine
    * split). Gates run before the dedup state so the state store only
    * ever holds hashes of documents worth keeping. */
  def streamingCurate(
      docsStream: DataFrame,
      lang: String = "en",
      minQuality: Double = 0.5,
      delay: String = "1 hour",
      tsCol: String = "ts",
      textCol: String = "text"): DataFrame =
    streamingDedup(
      docsStream.filter(
        TextAnalysis.languageId(col(textCol)) === lang &&
          TextAnalysis.qualityScore(col(textCol)) >= minQuality),
      delay, tsCol, textCol)

  /** Stream-stream inner join within a time bound: left and right
    * events on the same key join when their timestamps are within
    * `joinWindow` of each other. Both sides carry watermarks, so the
    * join state (buffered unmatched rows) is expired once the watermark
    * passes `ts + joinWindow` — bounded state, the only shape that
    * survives an unbounded stream. */
  def streamJoinWithin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      joinWindow: String = "10 minutes",
      delay: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark("lts", delay)
    val r = right.withWatermark("rts", delay)
    l.join(r,
      l(key) === r(key) &&
        expr(s"rts BETWEEN lts - INTERVAL $joinWindow AND lts + INTERVAL $joinWindow"))
      .drop(r(key))
  }

  /** Streaming O6: refit + persist the ANN index every `interval` over
    * the accumulated corpus — the explicit-cadence version of the
    * reference's rebuild-on-every-load. */
  def periodicIndexRefit(
      stream: DataFrame,
      corpusPath: String,
      modelPath: String,
      checkpoint: String,
      interval: String = "1 minute",
      embCol: String = "embedding"): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(corpusPath)
        val corpus = batch.sparkSession.read.parquet(corpusPath)
        Ann.save(Ann.fit(corpus, embCol), modelPath)
      }
      .start()

  /** STORE-backed streaming incremental dedup: every micro-batch is
    * verdict-checked against the persisted hash store and the batch's
    * novel first-occurrence hashes are durably APPENDED for the next
    * batch ([[graft.dedup.Dedup.incrementalDedupBatch]]).
    *
    * The complement of [[streamingDedup]]'s watermark form: that one
    * bounds executor state by TIME (beyond-horizon duplicates
    * re-emit); this one forgets nothing — dedup memory is the
    * ~48-byte/hash parquet store on disk, the only shape that holds
    * across a multi-month crawl. Executor state here is ZERO (the
    * foreachBatch body is stateless; all memory is the store).
    *
    * foreachBatch is at-least-once, so BOTH side effects are keyed by
    * the batch id: the store delta and the sink batch land in
    * `delta_<pipeline>_b<id>` / `<pipeline>_b<id>` subdirectories in
    * overwrite mode (pipeline = md5 of the checkpoint path, so two
    * pipelines sharing one store never collide) — a
    * retried micro-batch rewrites its own outputs instead of appending
    * the same hashes/verdicts twice (a doubled store row would mark a
    * true first occurrence as a dup of itself on every later batch).
    * Read the sink with `recursiveFileLookup`. */
  def streamingIncrementalDedup(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      Dedup.incrementalDedupBatch(batch.sparkSession, storeDir, batch, batchTag = Some(tag))
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** Streaming TOKENIZATION through the persisted tokenizer artifact —
    * the crawl loop's last mile: every micro-batch of new documents
    * tokenizes to ids under the SHARED trained model
    * (`vocabCounts`, loaded once by the caller from
    * [[graft.text.Unigram.ensureVocabArtifact]]'s store — the same
    * build-once/probe-many artifact discipline as the dedup and ANN
    * legs), with the full production configuration available: ▁
    * marker, character coverage baked into the artifact, byte
    * fallback making every batch totally tokenizable no matter what
    * characters the crawl surfaces. Tokenization is STATELESS per
    * batch (the word cache is rebuilt per micro-batch from its own
    * distinct words — no executor state, nothing grows over a
    * months-long crawl), and the sink is batch-id-keyed overwrite, so
    * at-least-once redelivery is idempotent. Read the sink with
    * `recursiveFileLookup`. */
  def streamingTokenizeIds(
      stream: DataFrame,
      vocabCounts: Seq[(String, Long)],
      sinkDir: String,
      checkpoint: String,
      marker: Boolean = true): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      graft.text.Unigram.tokenIdsByteFallback(batch, vocabCounts, marker = marker)
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** STORE-backed streaming incremental NEAR-dup — the
    * [[streamingIncrementalDedup]] shape for the near-duplicate leg of
    * the crawl loop: every micro-batch Jaccard-checks against the
    * persisted shingle-posting store and appends its NOVEL documents'
    * postings for the next batch
    * ([[graft.dedup.Dedup.incrementalNearDupBatch]]). Durable dedup
    * memory is the posting artifact (an index, ~32 bytes/shingle —
    * never the text); executor state is ZERO. Both side effects are
    * batch-id-keyed overwrites, so at-least-once redelivery is
    * idempotent. Read the sink with `recursiveFileLookup`. */
  def streamingIncrementalNearDedup(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      maxJaccardDist: Double = 0.5,
      shingleN: Int = 3): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      Dedup.incrementalNearDupBatch(batch.sparkSession, storeDir, batch,
          batchTag = tag, maxJaccardDist = maxJaccardDist, shingleN = shingleN)
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** Streaming fuzzy ENTITY RESOLUTION against the persisted FastSS
    * posting store ([[graft.ops.FuzzyJoin.ensureFuzzyStore]]) — the
    * entity-resolution leg of the crawl loop's incremental family
    * (exact-dup, near-dup, ANN, tokenize, score, resolve): every
    * micro-batch of (id, name) records gets a best-match verdict
    * against the registry ∪ its own earlier rows, and novel names
    * append their postings as a batch-keyed `delta_<tag>` OVERWRITE —
    * idempotent under at-least-once redelivery. Executor state is
    * ZERO; durable memory is the posting artifact. Read the sink with
    * `recursiveFileLookup`. */
  def streamingFuzzyResolve(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      idCol: String,
      nameCol: String,
      maxDist: Int = 1): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      FuzzyJoin.incrementalFuzzyResolveBatch(batch.sparkSession, storeDir, batch,
          idCol, nameCol, maxDist, batchTag = Some(tag))
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** Streaming classifier SCORING through the persisted LR model —
    * the quality-gate leg of the crawl loop: every micro-batch of new
    * documents scores under the SHARED trained model
    * ([[graft.text.LogReg.ensureModelArtifact]]'s store, loaded once
    * by the caller — the same build-once/probe-many artifact
    * discipline as the tokenizer leg). Scoring is STATELESS per batch
    * (features are a narrow map, weights are plan literals — no
    * executor state, nothing grows over a months-long crawl), and the
    * sink is batch-id-keyed overwrite, so at-least-once redelivery is
    * idempotent. Read the sink with `recursiveFileLookup`. */
  def streamingClassifierScores(
      stream: DataFrame,
      vocab: Seq[String],
      weightsMicro: Array[Long],
      sinkDir: String,
      checkpoint: String,
      labelLang: String = "en"): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      graft.text.LogReg.scores(
          graft.text.LogReg.features(batch, vocab, col("lang") === labelLang),
          weightsMicro)
        .select("doc_id", "score_micro", "pred")
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** STORE-backed streaming PERCEPTUAL media dedup — the crawl loop's
    * multimodal leg, completing the incremental set (exact-dup,
    * near-dup, ANN, tokenize): every micro-batch of media rows
    * signatures on the executors (image dHash over the real raster
    * bytes — non-image rows drop with the signature), Hamming-probes
    * the persisted signature store through the banded join (complete
    * for the threshold, never all-pairs), and appends its NOVEL
    * signatures as a batch-keyed overwrite delta
    * ([[graft.dedup.Dedup.incrementalSigDedupBatch]]). Durable dedup
    * memory is 16 bytes per seen image regardless of media size —
    * the raster bytes never persist and never shuffle; executor state
    * is ZERO. At-least-once redelivery rewrites the same delta and
    * sink subdir (batch-id-keyed overwrites). Read the sink with
    * `recursiveFileLookup`. */
  def streamingMediaDedup(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      maxHamming: Int = 3): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val sigs = graft.multimodal.Multimodal
        .dHash(batch.as[graft.multimodal.Multimodal.MediaRecord]).toDF()
        .select(col("media_id"), col("dhash").as("sig"))
      Dedup.incrementalSigDedupBatch(spark, storeDir, sigs, tag, maxHamming)
        .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** The SIZE-RATIO compaction policy shared by every store family with
    * delta legs: fold when the live deltas have grown to `ratio` ×
    * base bytes — each fold's IO is then PROPORTIONAL to the delta
    * bytes it folds (the base it rewrites is at most deltas/ratio), so
    * total compaction IO stays linear in stream length, where a pure
    * count trigger makes it quadratic (an O(base) rewrite every fixed
    * number of micro-batches) — OR when the delta-dir count reaches
    * `maxDeltaDirs`, the probe fan-out bound (many tiny deltas cost
    * probe latency even when their bytes are negligible). */
  private def shouldCompact(store: MutableStore.Layout, maxDeltaDirs: Int,
      ratio: Double): Boolean = {
    val deltaCount = MutableStore.deltaTags(store).size
    deltaCount > 0 && (deltaCount >= maxDeltaDirs ||
      MutableStore.deltaBytes(store).toDouble >=
        ratio * math.max(MutableStore.baseBytes(store), 1L).toDouble)
  }

  /** The CDC sink core for an append-only store family: each batch
    * first folds the store's COMMITTED deltas when [[shouldCompact]]
    * says so, then runs the family's `body`. The family passes its
    * store handle — `store`, the [[MutableStore.Layout]] the policy
    * reads the live delta count and the delta and base bytes through
    * (resolved per batch; no size walk runs once the count cap has
    * fired) — and a `fold` taking `excludeTags`. The fold always
    * excludes the CURRENT batch's tag: on at-least-once redelivery the
    * crashed attempt's delta may already exist, and folding it into
    * the base right before the body rewrites the same tag would
    * double-insert its rows. The single-writer foreachBatch serializes
    * the fold against the body's append. */
  private def storeSink(stream: DataFrame, checkpoint: String, maxDeltaDirs: Int,
      ratio: Double)(
      store: => MutableStore.Layout, fold: (SparkSession, Set[String]) => Unit)(
      body: (DataFrame, String) => Unit): StreamingQuery =
    taggedSink(stream, checkpoint) { (batch, tag) =>
      if (shouldCompact(store, maxDeltaDirs, ratio)) fold(batch.sparkSession, Set(tag))
      body(batch, tag)
    }

  /** The CDC sink core for a MUTATION feed — (op ∈ {add, del}, `key`,
    * …) rows — built on [[storeSink]] (same `store` handle and `fold`
    * pair): after the compaction check the batch is persisted once and
    * ONE narrow projection pass brings each op's keys to the driver
    * (ids only, bounded by the micro-batch — no shuffle, unlike a
    * grouped op count). `body` gets the pinned batch, the tag and
    * `keys(op)` (null keys included);
    * the batch is unpersisted in `finally`. The covered-leg families
    * read only op presence from `keys`; the global-mask families
    * resolve the batch through [[netOut]]. */
  private def cdcSink(stream: DataFrame, checkpoint: String, maxDeltaDirs: Int,
      ratio: Double, key: String)(
      store: => MutableStore.Layout, fold: (SparkSession, Set[String]) => Unit)(
      body: (DataFrame, String, String => Seq[Any]) => Unit): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, ratio)(store, fold) { (batch, tag) =>
      val b = batch.persist()
      try {
        val ops = b.filter(col("op").isin("add", "del")).select(col("op"), col(key)).collect()
        body(b, tag, op => ops.collect { case r if r.getString(0) == op => r.get(1) }.toSeq)
      } finally b.unpersist()
    }

  /** The rows of one op of a pinned CDC batch, projected to `cols`. */
  private def opRows(b: DataFrame, op: String, cols: String*): DataFrame =
    b.filter(col("op") === op).select(cols.map(col): _*)

  /** The GLOBAL-MASK families' (IVF, HNSW) batch step: their
    * tombstones mask ids globally, so the batch semantics differ from
    * the covered-leg stores. Within a batch, adds that the SAME batch
    * also deletes are NETTED OUT before anything lands (last-op-wins,
    * and the only redelivery-safe choice: landing the add first would
    * leave a tombstone that poisons the redelivered append through the
    * not-tombstoned guard). Rows with a null `vec_id` are dropped: they
    * cannot be addressed by id. The net-out and the emptiness checks
    * are driver-side set arithmetic over the core's keys plus literal
    * `isin` filters. `append` gets the surviving add rows with the
    * batch's FULL row schema minus op; `delete` gets the distinct
    * delete ids. */
  private def netOut(b: DataFrame, keys: String => Seq[Any])(
      append: DataFrame => Unit, delete: Seq[Long] => Unit): Unit = {
    def ids(op: String) = keys(op).collect { case id: java.lang.Number => id.longValue }
    val addIds = ids("add")
    val delIds = ids("del").distinct
    val netted = addIds.toSet.intersect(delIds.toSet)
    if (addIds.exists(!netted(_))) {
      val adds = b.filter(col("op") === "add" && col("vec_id").isNotNull).drop("op")
      append(if (netted.isEmpty) adds else adds.filter(!col("vec_id").isin(netted.toSeq: _*)))
    }
    if (delIds.nonEmpty) delete(delIds)
  }

  /** Streaming IVF index maintenance — the embedding leg of the crawl
    * loop, completing the incremental triple (exact-dup store,
    * near-dup store, ANN index): every micro-batch of (id, embedding)
    * rows is centroid-assigned and appended to the persisted layout as
    * a batch-keyed OVERWRITE delta ([[graft.index.Ivf.appendDelta]] —
    * the `delta_<tag>` idempotency protocol, so at-least-once
    * foreachBatch redelivery rewrites the same delta instead of
    * double-appending). Vectors are searchable as soon as their batch
    * commits ([[graft.index.Ivf.searchLayoutDeltaAware]]); tombstone
    * deletes apply to delta rows like base rows. Executor state is
    * ZERO — the foreachBatch body is stateless; all memory is the
    * layout on disk.
    *
    * `maxDeltaDirs` is the AUTO-COMPACTION policy a crawl that runs
    * for months needs: each micro-batch leaves one `_delta_<tag>`
    * dir, and delta-aware probes union every pending dir — unbounded
    * accumulation means unbounded probe fan-in. When the pending
    * count reaches the bound, the batch FIRST folds all COMMITTED
    * deltas into the base ([[graft.index.Ivf.compactDeltas]],
    * excluding its own tag — an uncommitted crashed-attempt delta
    * must keep being rewritten by redelivery, never folded then
    * re-added), then appends its delta. The probe-time union width is
    * therefore bounded by `maxDeltaDirs + 1` at every instant, and a
    * mid-stream compaction is invisible to probe results
    * (spec-pinned). Set `Int.MaxValue` to disable. A fold rewrites
    * only the clusters the deltas touch; the ratio trigger amortizes
    * that rewrite over proportionally more appended bytes.
    *
    * CONCURRENCY CONTRACT: the sink is the layout's single writer —
    * every append and fold holds its writer lease, and a second
    * writer fails loudly. Probes from any session are safe: each pins
    * one committed snapshot, and a fold commits a new manifest with
    * one atomic state write while lagged GC keeps the old snapshot's
    * files ([[graft.index.Ivf.compactDeltas]]). */
  def streamingIvfAppend(
      stream: DataFrame,
      layoutDir: String,
      checkpoint: String,
      embCol: String = "embedding",
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery = {
    def layout = Ivf.loadLayout(layoutDir) // a small sidecar read, never cached across batches
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(Ivf.storeOf(layoutDir),
        (spark, ex) => Ivf.compactDeltas(spark, layout, embCol, excludeTags = ex)) {
      (batch, tag) => Ivf.appendDelta(layout, batch, tag, embCol)
    }
  }

  /** Streaming HNSW index maintenance — the graph-index leg of the
    * crawl loop, mirroring [[streamingIvfAppend]]: every micro-batch
    * of (id, embedding) rows builds its own small per-shard delta
    * GRAPHS as a batch-keyed OVERWRITE
    * ([[graft.index.Hnsw.appendDelta]] — redelivery rewrites the same
    * delta, never double-inserts), the base shards are never rewritten
    * per batch, and vectors are searchable as soon as their batch
    * commits ([[graft.index.Hnsw.searchLayoutDeltaAware]]). The
    * auto-compaction policy bounds the probe fan-out: when the live
    * delta count reaches `maxDeltaDirs`, the deltas fold into a
    * canonically rebuilt base BEFORE the new batch lands (the
    * single-writer foreachBatch serializes compaction against
    * appends). Executor state is ZERO — all memory is the layout on
    * disk.
    *
    * HNSW fan-out cap = 8, not the family-wide 16: the delta-aware
    * probe pays one scan + graph-assembly leg per live delta and the
    * measured latency curve cliffs past 8 (ScaleProbe `hnswfan` at 20x:
    * warm 0.45 s at 2 deltas, 1.25 s at 8, 4.08 s at 16 — superlinear),
    * so the count cap folds before the cliff even when the size-ratio
    * trigger hasn't fired. */
  def streamingHnswAppend(
      stream: DataFrame,
      layoutDir: String,
      checkpoint: String,
      p: Hnsw.Params = Hnsw.Params(),
      maxDeltaDirs: Int = 8,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(Hnsw.layoutOf(layoutDir),
        Hnsw.compactDeltas(_, layoutDir, p, _)) { (batch, tag) =>
      Hnsw.appendDelta(batch.sparkSession, layoutDir, batch, tag, p)
    }

  /** Streaming BM25 postings maintenance — the TEXT-index leg of the
    * crawl loop, completing the incremental-store family (exact, near,
    * IVF, HNSW, media, tokenize, LR, fuzzy, and now postings): every
    * micro-batch of (doc_id, text) rows lands as a batch-keyed DELTA
    * posting dir ([[graft.text.InvertedIndex.appendDelta]] —
    * redelivery rewrites the same tag, never double-counts a term),
    * the bucketed base is never rewritten per batch, and documents are
    * BM25-searchable with exact merged corpus stats the moment their
    * batch commits ([[graft.text.InvertedIndex.bm25SearchDeltaAware]]).
    * Auto-compaction bounds the probe fan-out and — via the mergeable
    * fingerprint — leaves a sidecar a fresh ensure over the union
    * corpus will simply reuse. Executor state ZERO. */
  def streamingPostingsAppend(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(InvertedIndex.layoutOf(dir),
        InvertedIndex.compactDeltas(_, table, dir, buckets, _)) { (batch, tag) =>
      InvertedIndex.appendDelta(batch.sparkSession, dir, batch, tag)
    }

  /** Streaming maintenance of the POSITIONAL index — the phrase-query
    * leg of the incremental text-index family: each micro-batch lands
    * as a tag-keyed positional delta dir (idempotent overwrite), and
    * crossing `maxDeltaDirs` live deltas triggers a compaction that
    * excludes the current batch's tag (redelivery safety). */
  def streamingPositionalAppend(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(InvertedIndex.layoutOf(dir),
        InvertedIndex.compactPositionalDeltas(_, table, dir, buckets, _)) {
      (batch, tag) => InvertedIndex.appendPositionalDelta(batch.sparkSession, dir, batch, tag)
    }

  /** Streaming maintenance of the TRIGRAM (substring) index — the
    * third text-index leg; identical delta/compaction discipline. */
  def streamingTrigramAppend(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(InvertedIndex.layoutOf(dir),
        InvertedIndex.compactTrigramDeltas(_, table, dir, buckets, _)) {
      (batch, tag) => InvertedIndex.appendTrigramDelta(batch.sparkSession, dir, batch, tag)
    }

  /** Streaming maintenance of the SQ8 code store — new vectors encode
    * under the PERSISTED quantization model (the trained-index
    * contract) and land as tag-keyed delta code dirs; crossing
    * `maxDeltaDirs` triggers a compaction that excludes the current
    * batch's tag (redelivery safety). */
  def streamingSq8Append(
      stream: DataFrame,
      dir: String,
      checkpoint: String,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    storeSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio)(Sq.layoutOf(dir),
        Sq.compactDeltas(_, dir, _)) { (batch, tag) =>
      Sq.appendDelta(batch.sparkSession, dir, batch, tag)
    }

  /** CDC MUTATION stream for the BM25 posting store — each micro-batch
    * of (op, doc_id, text) rows, op ∈ {"add", "del"}, applies its
    * deletes as ONE tag-keyed tombstone and its adds as ONE tag-keyed
    * delta, sharing the batch tag. Deletes cover only the legs live
    * BEFORE this batch (`excludeCovered` = the batch's own tag), so
    * within a batch ADDS WIN: a same-batch delete+re-add of a doc is
    * the UPSERT shape — the ONLY way an append-only posting store can
    * take an update (a bare add of an already-live doc_id would
    * duplicate it) — and an at-least-once redelivery, where the
    * crashed attempt's delta already sits on disk under this tag,
    * cannot mask its own appends. The positional and trigram streams
    * share these semantics. NOTE the deliberate asymmetry with the
    * global-mask families ([[streamingIvfMutations]] /
    * [[streamingHnswMutations]], where same-batch pairs net out and
    * the DELETE wins): a feed that means add-then-delete ordering
    * against a text store must put the two ops in separate batches.
    *
    * FEED CONTRACT (the [[graft.text.InvertedIndex.deleteDocs]]
    * contract, surfaced here): every delete row must be the doc's
    * FULL, currently-LIVE row — the text re-derives the fingerprint
    * terms and stat decrements, which are subtracted exactly once.
    * Re-delivering a delete for an ALREADY-DELETED doc under a
    * different batch (a new tombstone tag) or deleting a never-indexed
    * doc double-/mis-subtracts the corpus stats silently; same-tag
    * redelivery (the checkpoint's own retry path) is safe.
    *
    * Redelivery × compaction: if the crashed attempt's tombstone was
    * already CONSUMED by the batch's compaction (its covered legs all
    * folded — rows physically dropped, terms subtracted), the rerun's
    * rewrite lands in `deadTombs` and stays invisible; the committed
    * state is already the post-delete corpus, and the next
    * compaction garbage-collects the rewritten dir. */
  def streamingPostingsMutations(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "doc_id")(
        InvertedIndex.layoutOf(dir), InvertedIndex.compactDeltas(_, table, dir, buckets, _)) {
      (b, tag, keys) =>
        if (keys("del").nonEmpty)
          InvertedIndex.deleteDocs(b.sparkSession, dir, opRows(b, "del", "doc_id", "text"),
            tag, excludeCovered = Set(tag))
        if (keys("add").nonEmpty)
          InvertedIndex.appendDelta(b.sparkSession, dir, opRows(b, "add", "doc_id", "text"), tag)
    }

  /** CDC mutation stream for the POSITIONAL index — the phrase-query
    * leg; see [[streamingPostingsMutations]]. */
  def streamingPositionalMutations(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "doc_id")(
        InvertedIndex.layoutOf(dir),
        InvertedIndex.compactPositionalDeltas(_, table, dir, buckets, _)) {
      (b, tag, keys) =>
        if (keys("del").nonEmpty)
          InvertedIndex.deleteDocs(b.sparkSession, dir, opRows(b, "del", "doc_id", "text"),
            tag, excludeCovered = Set(tag))
        if (keys("add").nonEmpty)
          InvertedIndex.appendPositionalDelta(b.sparkSession, dir,
            opRows(b, "add", "doc_id", "text"), tag)
    }

  /** CDC mutation stream for the TRIGRAM (substring) index — the third
    * text-index leg; see [[streamingPostingsMutations]]. */
  def streamingTrigramMutations(
      stream: DataFrame,
      table: String,
      dir: String,
      checkpoint: String,
      buckets: Int,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "doc_id")(
        InvertedIndex.layoutOf(dir),
        InvertedIndex.compactTrigramDeltas(_, table, dir, buckets, _)) {
      (b, tag, keys) =>
        if (keys("del").nonEmpty)
          InvertedIndex.deleteDocs(b.sparkSession, dir, opRows(b, "del", "doc_id", "text"),
            tag, excludeCovered = Set(tag))
        if (keys("add").nonEmpty)
          InvertedIndex.appendTrigramDelta(b.sparkSession, dir,
            opRows(b, "add", "doc_id", "text"), tag)
    }

  /** CDC MUTATION stream for the SQ8 code store — the vector-side twin
    * of [[streamingPostingsMutations]]: (op, vec_id, embedding) rows,
    * deletes tombstone the legs live before the batch (adds win within
    * a batch; redelivery cannot mask its own appends), adds encode
    * under the PERSISTED quantizer (trained-index contract) as a
    * tag-keyed delta. Same redelivery × compaction reasoning — and the
    * same FEED CONTRACT as [[streamingPostingsMutations]]: delete rows
    * must be currently-LIVE full rows, exactly once per deletion (a
    * delete re-delivered under a DIFFERENT batch tag, or of a
    * never-indexed id, mis-subtracts the fingerprint terms silently). */
  def streamingSq8Mutations(
      stream: DataFrame,
      dir: String,
      checkpoint: String,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "vec_id")(
        Sq.layoutOf(dir), Sq.compactDeltas(_, dir, _)) { (b, tag, keys) =>
      if (keys("del").nonEmpty)
        Sq.deleteVectors(b.sparkSession, dir, opRows(b, "del", "vec_id", "embedding"), tag,
          excludeCovered = Set(tag))
      if (keys("add").nonEmpty)
        Sq.appendDelta(b.sparkSession, dir, opRows(b, "add", "vec_id", "embedding"), tag)
    }

  /** CDC mutation stream for the persisted IVF layout — the
    * GLOBAL-MASK families' variant of [[streamingPostingsMutations]]
    * (see [[netOut]] for the same-batch net-out and the null-key
    * rule). Deletes of ids absent from the layout are ignored (delete
    * is idempotent). Re-adding an id deleted by an EARLIER batch fails
    * loudly via the append guard — the supported revival path is
    * compactLayout, then re-add.
    *
    * Per-batch job plan (a fixed budget, independent of the layout's
    * leg count): the core's one id pass over the pinned batch;
    * [[graft.index.Ivf.appendDelta]] adds at most three jobs
    * (materialize + ids, mask guard, write) and
    * [[graft.index.Ivf.deleteFromLayout]] two (one id lookup, the
    * tombstone write); every leg read is schema-pinned, so no read
    * starts a schema-inference job. A compacting batch adds the fold
    * ([[graft.index.Ivf.compactDeltas]]) on top. */
  def streamingIvfMutations(
      stream: DataFrame,
      layoutDir: String,
      checkpoint: String,
      embCol: String = "embedding",
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery = {
    def layout = Ivf.loadLayout(layoutDir) // a small sidecar read, never cached across batches
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "vec_id")(Ivf.storeOf(layoutDir),
        (spark, ex) => Ivf.compactDeltas(spark, layout, embCol, excludeTags = ex)) {
      (b, tag, keys) =>
        val ivf = layout
        netOut(b, keys)(
          // the layout's delta rows carry every base column (label etc.)
          // for the positional base ∪ delta union
          Ivf.appendDelta(ivf, _, tag, embCol),
          // batch-keyed tombstone tag: an at-least-once redelivery
          // OVERWRITES its own batch dir (and the already-masked ids
          // filter to an empty affected set — no double-xor either way)
          Ivf.deleteFromLayout(b.sparkSession, ivf, _, "vec_id", embCol, s"${tag}_del"))
    }
  }

  /** CDC mutation stream for the sharded HNSW layout — same
    * global-mask semantics as [[streamingIvfMutations]] (net-out of
    * same-batch add+delete pairs; null-key rows dropped; phantom
    * deletes ignored; re-add of an earlier batch's delete fails loudly
    * — revival path is compactDeltas(dropTombstoned = true), then
    * re-add). Delete ids come to the driver (batch-sized) for the
    * tag-keyed tombstone write. Fan-out cap 8 — see
    * [[streamingHnswAppend]]'s measured rationale. */
  def streamingHnswMutations(
      stream: DataFrame,
      layoutDir: String,
      checkpoint: String,
      p: Hnsw.Params = Hnsw.Params(),
      maxDeltaDirs: Int = 8,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "vec_id")(
        Hnsw.layoutOf(layoutDir), Hnsw.compactDeltas(_, layoutDir, p, _)) { (b, tag, keys) =>
      netOut(b, keys)(
        adds => Hnsw.appendDelta(b.sparkSession, layoutDir,
          adds.select("vec_id", "embedding"), tag, p),
        Hnsw.deleteFromLayout(b.sparkSession, layoutDir, _, tag = tag))
    }

  /** CDC MUTATION stream for the incremental EXACT-DEDUP HASH STORE —
    * the derived-store leg of the mutation family (r14 VERDICT task 4):
    * ONE (op ∈ add/del, doc_id, text) feed maintains the store a crawl
    * pipeline dedups against. COVERED-LEG semantics (the text-store
    * model, NOT the global-mask one): a delete tombstones the docs'
    * (hash, first_id) pairs on the legs live BEFORE the batch
    * (`excludeCovered` = own tag), so a same-batch delete+re-crawl is
    * an UPSERT — the add wins, reports NOVEL, and its fresh pair
    * becomes the content's new owner — and an at-least-once redelivery
    * can never mask its own appends. Adds run through
    * [[graft.dedup.Dedup.incrementalDedupBatch]] (verdicts land in
    * `sinkDir/<tag>`, batch-keyed overwrite; novel pairs append as the
    * batch's delta). Auto-compaction folds under the shared count +
    * size-ratio policy, excluding the in-flight tag.
    *
    * FEED CONTRACT ([[graft.dedup.Dedup.deleteFromHashStore]]): delete
    * rows are the scrubbed docs' FULL (id, text) rows; deleting a doc
    * that was itself a dup is a harmless no-op (conservative — the
    * store may re-admit a duplicate, never wrongly suppress). */
  def streamingDedupMutations(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "doc_id")(
        Dedup.flatOf(storeDir), Dedup.compactHashStore(_, storeDir, _)) { (b, tag, keys) =>
      if (keys("del").nonEmpty)
        Dedup.deleteFromHashStore(b.sparkSession, storeDir, opRows(b, "del", "doc_id", "text"),
          tag, excludeCovered = Set(tag))
      if (keys("add").nonEmpty)
        Dedup.incrementalDedupBatch(b.sparkSession, storeDir, opRows(b, "add", "doc_id", "text"),
            batchTag = Some(tag))
          .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** CDC mutation stream for the NEAR-DUP SHINGLE STORE — the same
    * covered-leg upsert semantics as [[streamingDedupMutations]]
    * applied to the Jaccard leg: deletes tombstone doc ids' shingle
    * postings + size rows on pre-batch legs only, adds Jaccard-check
    * and append their novel docs' postings
    * ([[graft.dedup.Dedup.incrementalNearDupBatch]]). Delete rows need
    * only the doc ids (postings are keyed by c_id). */
  def streamingNearDupMutations(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      maxJaccardDist: Double = 0.5,
      shingleN: Int = 3,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, "doc_id")(
        Dedup.shingleOf(storeDir), Dedup.compactShingleStore(_, storeDir, _)) { (b, tag, keys) =>
      if (keys("del").nonEmpty)
        Dedup.deleteFromShingleStore(b.sparkSession, storeDir, opRows(b, "del", "doc_id"),
          tag, excludeCovered = Set(tag))
      if (keys("add").nonEmpty)
        Dedup.incrementalNearDupBatch(b.sparkSession, storeDir,
            opRows(b, "add", "doc_id", "text"), batchTag = tag,
            maxJaccardDist = maxJaccardDist, shingleN = shingleN)
          .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }

  /** CDC mutation stream for the FUZZY SIGNATURE STORE — the
    * entity-resolution leg of the mutation family, same covered-leg
    * upsert semantics: deletes tombstone registry ids' signature
    * neighborhoods on pre-batch legs only (feed carries the STORE id
    * to take down), adds resolve against the masked registry and
    * append their novel names' signatures
    * ([[graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch]]). */
  def streamingFuzzyMutations(
      stream: DataFrame,
      storeDir: String,
      sinkDir: String,
      checkpoint: String,
      idCol: String,
      nameCol: String,
      maxDist: Int = 1,
      maxDeltaDirs: Int = 16,
      compactBytesRatio: Double = 1.0): StreamingQuery =
    cdcSink(stream, checkpoint, maxDeltaDirs, compactBytesRatio, idCol)(
        FuzzyJoin.flatOf(storeDir), FuzzyJoin.compactFuzzyStore(_, storeDir, _)) { (b, tag, keys) =>
      if (keys("del").nonEmpty)
        FuzzyJoin.deleteFromFuzzyStore(b.sparkSession, storeDir, opRows(b, "del", idCol),
          tag, idCol = idCol, excludeCovered = Set(tag))
      if (keys("add").nonEmpty)
        FuzzyJoin.incrementalFuzzyResolveBatch(b.sparkSession, storeDir,
            opRows(b, "add", idCol, nameCol), idCol, nameCol, maxDist, batchTag = Some(tag))
          .write.mode("overwrite").parquet(s"$sinkDir/$tag")
    }
}
