package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.VectorSearch

import Fixtures._

/** Streaming and CDC: micro-batch appends and deletes onto every store
  * family, stream enrichment and joins, sessions, streaming dedup and
  * curation, each checked against the batch answer over the survivors. */
object StreamQueries {
  private val declare = new Declared.Family("stream")

  /** Runs a bounded streaming query (Trigger.AvailableNow) into a
    * scratch PARQUET sink via foreachBatch and hands back the sink read
    * as a DataFrame — the scale-safe declared-query shape: results flow
    * executor→disk→executor and never materialize on the driver (the
    * earlier memory-sink + collect() form put the whole streaming
    * result in driver memory, a scale-killer for unbounded results).
    * `overwrite = true` is the complete-mode shape (each micro-batch
    * rewrites the full result, the final batch wins); `false` appends
    * each batch's newly-emitted rows.
    *
    * Stateful operators (stream-stream joins, dedup, sessions) pay a
    * fixed state-store cost PER SHUFFLE PARTITION per micro-batch
    * (open/commit/checkpoint of each store); at local volumes that
    * fixed cost dominates — the sf0.1 stream-stream join measured
    * 8.0 s at 32 state partitions vs 2.8 s at 8 with identical output.
    * So the streaming run sizes `spark.sql.shuffle.partitions` to
    * `statePartitions` (the charter's "size shuffle partitions to the
    * data" lever — a real deployment raises it with state volume) and
    * restores the session value afterwards; the streaming query
    * captures the conf at start, so later batch queries are planned
    * under the restored value. */
  private def runStreamToParquet(s: SparkSession, sfDir: String,
      result: DataFrame, outputMode: String, overwrite: Boolean,
      tag: String, statePartitions: Int = 8): DataFrame = {
    val scratch = scratchDir(tag, sfDir)
    val sinkDir = s"$scratch/sink"
    val saveMode = if (overwrite) "overwrite" else "append"
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try awaitStream(tag, result.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", s"$scratch/chk")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(saveMode).parquet(sinkDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())
    finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.parquet(sinkDir)
  }

  val declared: Seq[Declared] = Seq(
    // Streaming classifier scoring — the quality-gate leg of the crawl
    // loop: micro-batches score statelessly under the SHARED persisted
    // LR model (same artifact as corpus_lr_train); batch-keyed
    // overwrite sink, zero executor state, replay-deterministic.
    declare("stream_lr_score")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("logreg", dir)
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      val scratch = scratchDir("streamlr", dir)
      val stream = replayStream(s, scratch, Seq(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1)))
      val q = graft.streaming.StreamingIngest.streamingClassifierScores(
        stream, vocab, w, s"$scratch/sink", s"$scratch/chk")
      awaitStream("stream_lr_score", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("score_micro"), col("pred"))
        .orderBy(col("doc_id"))
    })(
      // The streamed union of batch sinks covers every doc exactly once
      // (scoring is stateless per batch), so the oracle is the same
      // chain scored over the whole corpus.
      {
        val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
        s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
           |SELECT doc_id,
           |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro,
           |       (z > 0.0) AS pred
           |FROM (SELECT f.doc_id, $zSum AS z FROM f CROSS JOIN w24) q
           |ORDER BY doc_id""".stripMargin
      }),

    // Stream-static enrichment: the events FILE STREAM joined per
    // micro-batch against the small static customer dimension
    // (broadcast — the stream side never shuffles for the join), then a
    // complete-mode rollup per (nation, event_type) through the parquet
    // sink. The finished result must equal the batch join + group —
    // streaming and batch enrichment semantics agree on the same data.
    declare("stream_enrich")((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      val counts = stream.join(broadcast(dim), "user_id")
        .groupBy(col("c_nationkey"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      runStreamToParquet(s, dir, counts, outputMode = "complete",
          overwrite = true, tag = "stream_enrich")
        .orderBy(col("c_nationkey"), col("event_type"))
    })(
      // Batch twin of the stream-static enrichment: same join, same
      // rollup — the streaming result must equal it exactly.
      """SELECT CAST(c.c_nationkey AS INTEGER) AS c_nationkey, e.event_type,
        |       CAST(count(*) AS BIGINT) AS n_events, CAST(sum(e.event_id) AS BIGINT) AS id_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Stream-STREAM interval join: clicks joined to same-user purchases
    // within the following hour, both sides watermarked (the watermark
    // bounds the join state Spark must hold — without it a stream-stream
    // join buffers forever; with it, rows older than the watermark minus
    // the interval are evicted). Inner-join emission is watermark-
    // independent, and the file replay delivers everything in one batch,
    // so the finished result equals the batch interval join the oracle
    // runs.
    declare("stream_join")((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def src() = fixEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("cts"),
          col("event_id").as("click_id"))
        .withWatermark("cts", "1 hour")
      val purchases = src().filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"),
          col("event_id").as("purchase_id"))
        .withWatermark("pts", "1 hour")
      val joined = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      runStreamToParquet(s, dir, joined, outputMode = "append",
          overwrite = false, tag = "stream_join")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("cts")).as("click_us"),
          unix_micros(col("pts")).as("purchase_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    })(
      // stream-stream interval join ≡ the batch interval join
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin),

    // Custom-state streaming: sessionization via flatMapGroupsWithState
    // (event-time timeout, bounded per-user state). Emission semantics
    // are exactly replayable: a session closed by a later event of the
    // same user emits intra-batch; the final no-data micro-batch fires
    // the event-time timeout for trailing sessions whose end+gap is
    // strictly below the final watermark (= floor(max event us / 1000)
    // ms with a 0s delay). Session arithmetic is in MILLISECONDS
    // (Timestamp.getTime floors the micros) — the oracle mirrors the
    // floor division.
    declare("stream_sessions")((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = fixEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val ev = stream.select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.Sessionize.Event]
      val sess = graft.streaming.Sessionize.sessions(ev,
        gapMs = 1800000L, watermarkDelay = "0 seconds").toDF()
      runStreamToParquet(s, dir, sess, outputMode = "append",
          overwrite = false, tag = "stream_sessions")
        .select(col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    })(
      // streaming sessionization: gap-split in the ms domain
      // (Timestamp.getTime floors micros→ms); a user's non-last sessions
      // emit intra-batch, the last session emits only if the event-time
      // timeout fired, i.e. end+gap strictly below the final watermark
      """WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
        |l AS (SELECT user_id, ms, lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev_ms FROM e),
        |f AS (SELECT user_id, ms,
        |        CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s
        |      FROM l),
        |s AS (SELECT user_id, ms,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f),
        |g AS (SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
        |             CAST(count(*) AS BIGINT) AS n_events
        |      FROM s GROUP BY 1, 2),
        |mx AS (SELECT max(ms) AS wm FROM e),
        |last AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        |SELECT g.user_id, g.start_ms * 1000 AS start_us, g.end_ms * 1000 AS end_us, g.n_events
        |FROM g JOIN last USING (user_id), mx
        |WHERE g.sid < last.last_sid OR g.end_ms + 1800000 < mx.wm
        |ORDER BY g.user_id, start_us""".stripMargin),

    // STREAMING IVF append — the embedding leg of the crawl loop,
    // completing the incremental-store triple (exact-dup, near-dup,
    // ANN). Ten exact copies of the query vector arrive as a file
    // stream in TWO micro-batches (maxFilesPerTrigger=1); each batch
    // lands as a batch-keyed OVERWRITE delta under the layout
    // (Ivf.appendDelta — at-least-once redelivery rewrites, never
    // double-appends), and the delta-aware nprobe=1 probe must
    // reproduce the brute-force oracle over corpus ∪ appended: every
    // copy is centroid-assigned with the probe's own arithmetic, so
    // all land in the probed cluster, searchable the moment their
    // batch commits.
    // Streaming HNSW append — the graph-index leg of the incremental
    // crawl loop (exact-dup, near-dup, IVF, and now the graph index):
    // micro-batches land as per-shard DELTA graphs (batch-keyed
    // overwrite, idempotent under redelivery), the base shards are
    // never rewritten, and the delta-aware probe searches base ∪
    // deltas with one TakeOrdered merge. The planted copies of the
    // query vector stream in AFTER the base build; the oracle ranks
    // the full union exactly.
    declare("stream_hnsw_append")((s, dir) => {
      val corpus = emb(s, dir)
      val p = hnswParams(corpus)
      val baseDir = artifactDir("hnsw", dir)
      graft.index.Hnsw.ensureLayout(corpus, baseDir, p)
      val (scratch, layoutDir) = seedCopy("streamhnsw", dir, baseDir, "layout_root")
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4300000L)).as("vec_id"), col("embedding"))
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("vec_id") < 4300005L),
        planted.filter(col("vec_id") >= 4300005L)))
      val q = graft.streaming.StreamingIngest.streamingHnswAppend(
        stream, layoutDir, s"$scratch/chk", p)
      awaitStream("stream_hnsw_append", q)
      val query = vecOf(corpus, 0)
      graft.index.Hnsw.searchLayoutDeltaAware(s, layoutDir, query, k = 10, p)
    })(
      // Same brute-force shape for the STREAMING append: corpus ∪ the
      // ten delta-appended copies — the delta-aware probe must serve
      // both micro-batches' vectors (a lost batch, or a double-applied
      // retry creating duplicate ids, would hash-mismatch here).
      // The delta-aware graph probe must reproduce the exact ranking
      // over base ∪ streamed rows: 11 dist-0 rows after the append, so a
      // delta the probe missed (or a duplicate from a non-idempotent
      // redelivery) hash-mismatches immediately.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4300000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // CDC mutation stream on the persisted IVF layout — the
    // GLOBAL-MASK variant of the mutation family (covered-leg revival
    // does not apply here; same-batch add+delete pairs net out, and
    // re-adding an earlier delete fails loudly via the append guard):
    // 15 planted copies stream in, a later batch deletes five of them
    // (tombstoning JUST-STREAMED delta rows — the interplay the delete
    // path documents), and the delta-aware pruned probe must equal
    // exact top-10 over the survivors — which the oracle rebuilds.
    declare("stream_ivf_delete")((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        artifactDir("ivf_appendbase", dir), nlist = 8, maxIter = 3)
      val (scratch, layoutDir) = seedCopy("streamivfmut", dir, base.dir, "layout")
      // add rows carry the layout's FULL base schema (incl. label)
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("vec_id"), col("embedding"), col("label"))
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(15))
        .select((col("id") + lit(5100000L)).as("vec_id"), col("embedding"),
          col("label"))
      val b0 = op("add")(planted)
      val b1 = op("del")(planted.filter(col("vec_id") < 5100005L))
      val stream = replayStream(s, scratch, Seq(b0, b1))
      val q = graft.streaming.StreamingIngest.streamingIvfMutations(
        stream, layoutDir, s"$scratch/chk")
      awaitStream("stream_ivf_delete", q)
      val query = vecOf(corpus, 0)
      graft.index.Ivf.searchLayoutDeltaAware(s,
        graft.index.Ivf.loadLayout(layoutDir), query, k = 10, nprobe = 1)
    })(
      // Exact top-10 over (corpus ∪ planted) − the five CDC-deleted
      // copies — the global-mask mutation stream's survivor contract.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 5100000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(15) r(i) WHERE e.vec_id = 0),
         |live AS (SELECT * FROM c WHERE vec_id NOT BETWEEN 5100000 AND 5100004),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT live.vec_id AS vec_id, ${l2SqSql("live.embedding", "q.qe")} AS dist
         |FROM live CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // CDC mutation stream on the sharded HNSW layout — the graph-index
    // leg of the global-mask variant: five planted copies stream in,
    // a later batch deletes two of them PLUS two base ids (a mixed
    // takedown), and the delta-aware probe must reproduce the
    // survivors-only brute force.
    declare("stream_hnsw_delete")((s, dir) => {
      val corpus = emb(s, dir)
      val p = hnswParams(corpus)
      val baseDir = artifactDir("hnsw", dir)
      graft.index.Hnsw.ensureLayout(corpus, baseDir, p)
      val (scratch, layoutDir) = seedCopy("streamhnswmut", dir, baseDir, "layout_root")
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("vec_id"), col("embedding"))
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(5200000L)).as("vec_id"), col("embedding"))
      val b0 = op("add")(planted)
      val b1 = op("del")(planted.filter(col("vec_id") < 5200002L))
        .unionAll(op("del")(corpus.filter(col("vec_id").isin(1L, 2L))
          .select(col("vec_id"), col("embedding"))))
      val stream = replayStream(s, scratch, Seq(b0, b1))
      val q = graft.streaming.StreamingIngest.streamingHnswMutations(
        stream, layoutDir, s"$scratch/chk", p)
      awaitStream("stream_hnsw_delete", q)
      val query = vecOf(corpus, 0)
      graft.index.Hnsw.searchLayoutDeltaAware(s, layoutDir, query, k = 10, p)
    })(
      // Survivors-only brute force after the mixed takedown (two planted
      // copies + two base ids), with the graph probe's rank column.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE vec_id NOT IN (1, 2)
         |           UNION ALL
         |           SELECT 5200000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(5) r(i)
         |           WHERE e.vec_id = 0 AND r.i >= 2),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Streaming SQ8 code-store maintenance — the quantized-vector leg
    // of the incremental-store family: new vectors encode under the
    // PERSISTED min/max model (the FAISS trained-index contract — the
    // quantizer never retrains per batch), land as tag-keyed delta
    // code dirs (idempotent under redelivery), the second batch trips
    // the maxDeltaDirs=1 auto-compaction (mergeable-fingerprint fold,
    // no source rescan), and the delta-aware ADC probe + exact rerank
    // over base ∪ live delta equals exact top-10 over the union —
    // which is exactly what the brute-force oracle computes.
    declare("stream_sq8_append")((s, dir) => {
      val corpus = emb(s, dir)
      val baseDir = artifactDir("sq8", dir)
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val (scratch, codesDir) = seedCopy("streamsq8", dir, baseDir, "sq8")
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4400000L)).as("vec_id"), col("embedding"))
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("vec_id") < 4400005L),
        planted.filter(col("vec_id") >= 4400005L)))
      val q = graft.streaming.StreamingIngest.streamingSq8Append(
        stream, codesDir, s"$scratch/chk", maxDeltaDirs = 1)
      awaitStream("stream_sq8_append", q)
      val model = graft.index.Sq.modelFromArtifact(s, codesDir)
      val query = vecOf(corpus, 0)
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, codesDir),
        corpus.select(col("vec_id"), col("embedding")).unionAll(planted),
        model, query, k = 10, shortlist = 200)
    })(
      // Exact top-10 over base ∪ planted: the delta-aware ADC + rerank
      // must reproduce it (rerank-equals-exact with the planted dist-0
      // copies guaranteed inside any shortlist).
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4400000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist FROM d
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Streaming BM25 postings maintenance — the TEXT-index leg of the
    // incremental-store family (ninth store): three micro-batches of
    // planted docs land as batch-keyed DELTA posting dirs, the third
    // batch trips the maxDeltaDirs=2 auto-compaction (which folds the
    // first two into the bucketed base and MERGES the sidecar's
    // fingerprint + corpus stats — the mergeable-aggregate device, no
    // source rescan), and the delta-aware probe scores base ∪ live
    // delta with exact union stats. The oracle is a from-scratch BM25
    // over documents ∪ planted — a matching hash proves append,
    // compaction, stat merging, and probe all exact.
    declare("stream_bm25_append")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val table = s"graft_poststream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy ([[seedCopy]]): build the base ONCE in the
      // per-sf location every BM25 query shares, copy its files, and
      // let the sidecar tier re-register metadata-only — a replay pays
      // one dir copy, not a corpus-sized tokenize
      graft.text.InvertedIndex.ensure(s, corpus,
        s"graft_post_${dirKey(dir)}", artifactDir("postings", dir), buckets = 8)
      val (scratch, idxDir) = seedCopy("streambm25", dir,
        artifactDir("postings", dir), "postings")
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus.filter(col("doc_id") < 14)
        .select((col("doc_id") + lit(8000000L)).as("doc_id"), col("text"))
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("doc_id") < 8000008L),
        planted.filter(col("doc_id") >= 8000008L && col("doc_id") < 8000012L),
        planted.filter(col("doc_id") >= 8000012L)))
      val q = graft.streaming.StreamingIngest.streamingPostingsAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      awaitStream("stream_bm25_append", q)
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // From-scratch BM25 over documents ∪ the planted stream batches:
      // the delta-aware probe (base + folded deltas + one live delta,
      // merged stats) must reproduce it exactly.
      bm25SqlOver(
        """(SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 8000000 AS doc_id, text FROM documents WHERE doc_id < 14)""".stripMargin,
        20)),

    // Streaming POSITIONAL-index maintenance — the phrase-query leg of
    // the incremental text-index family: the 12 lowest-id docs whose
    // normalized text contains 'hash join' re-land (id-shifted) as
    // three micro-batches of positional deltas, the third batch trips
    // the maxDeltaDirs=2 auto-compaction (folding the first two into
    // the bucketed base with MERGED fingerprints — no source rescan),
    // and the delta-aware phrase probe intersects base ∪ live delta.
    // The oracle is a from-scratch token-slice scan over documents ∪
    // planted, so a matching hash proves append, compaction, and the
    // positional intersection over mixed base/delta postings all exact.
    declare("stream_phrase_append")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val table = s"graft_posstream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // build the base ONCE in the shared per-sf location (the same
      // artifact doc_phrase_search probes), copy files into the
      // scratch dir, and let the sidecar tier re-register over the
      // copy metadata-only ([[seedCopy]]): a replay pays one dir
      // copy, not a corpus-sized rebuild
      graft.text.InvertedIndex.ensurePositional(s, corpus,
        s"graft_pos_${dirKey(dir)}", artifactDir("positional", dir), buckets = 8)
      val (scratch, idxDir) = seedCopy("streamphrase", dir,
        artifactDir("positional", dir), "positional")
      graft.text.InvertedIndex.ensurePositional(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("hash join"))
        .orderBy(col("doc_id")).limit(12)
        .select((col("doc_id") + lit(8200000L)).as("doc_id"), col("text"))
        .localCheckpoint() // 12 rows; reused by the three batch writes
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("doc_id") % 3 === 0),
        planted.filter(col("doc_id") % 3 === 1),
        planted.filter(col("doc_id") % 3 === 2)))
      val q = graft.streaming.StreamingIngest.streamingPositionalAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      awaitStream("stream_phrase_append", q)
      graft.text.InvertedIndex.phraseSearchDeltaAware(s, table, idxDir,
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    })(
      // From-scratch phrase scan over documents ∪ the planted stream
      // batches: the delta-aware positional probe (base + folded deltas
      // + one live delta) must reproduce it exactly.
      phraseSqlOver(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT doc_id + 8200000 AS doc_id, text FROM
           |   (SELECT doc_id, text FROM documents
           |    WHERE contains($NormSql, 'hash join')
           |    ORDER BY doc_id LIMIT 12))""".stripMargin)),

    // Streaming TRIGRAM-index maintenance — the substring-search leg,
    // completing the incremental protocol across all THREE text
    // indexes (BM25 postings, positional, trigram): planted docs
    // containing the needle re-land as three micro-batches of trigram
    // deltas (compaction at maxDeltaDirs=2), and the delta-aware probe
    // AND-intersects base ∪ live delta candidates before exact
    // verification over the union corpus. From-scratch contains-scan
    // oracle over documents ∪ planted.
    declare("stream_substring_append")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val table = s"graft_tristream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy (see stream_phrase_append): the trigram base
      // is the expensive one (~10x token posting volume) — a fresh
      // per-replay build measured 18 s at sf0.1 vs ~2 s copied
      graft.text.InvertedIndex.ensureTrigram(s, corpus,
        s"graft_tri_${dirKey(dir)}", artifactDir("trigram", dir), buckets = 8)
      val (scratch, idxDir) = seedCopy("streamtri", dir, artifactDir("trigram", dir), "trigram")
      graft.text.InvertedIndex.ensureTrigram(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("merge batch"))
        .orderBy(col("doc_id")).limit(12)
        .select((col("doc_id") + lit(8300000L)).as("doc_id"), col("text"))
        .localCheckpoint() // ≤ 12 rows; reused by the three batch writes
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("doc_id") % 3 === 0),
        planted.filter(col("doc_id") % 3 === 1),
        planted.filter(col("doc_id") % 3 === 2)))
      val q = graft.streaming.StreamingIngest.streamingTrigramAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      awaitStream("stream_substring_append", q)
      graft.text.InvertedIndex.substringSearchDeltaAware(s, table, idxDir,
          corpus.unionAll(planted), needle = "merge batch")
        .orderBy(col("doc_id"))
    })(
      // From-scratch contains scan over documents ∪ the planted stream
      // batches: the delta-aware trigram candidates + exact verification
      // over the union corpus must reproduce it exactly.
      substringSqlOver(
        s"""(SELECT doc_id, text FROM documents
           | UNION ALL
           | SELECT doc_id + 8300000 AS doc_id, text FROM
           |   (SELECT doc_id, text FROM documents
           |    WHERE contains($NormSql, 'merge batch')
           |    ORDER BY doc_id LIMIT 12))""".stripMargin)),

    // CDC MUTATION STREAM on the BM25 posting store — ONE feed carrying
    // both appends and takedowns (op ∈ {add, del}), the shape a crawl
    // pipeline actually emits (upserts and GDPR deletes interleave;
    // nobody runs two ordered streams). Four micro-batches: adds land,
    // a mixed delete batch tombstones two base docs and one
    // just-streamed doc, a later batch REVIVES one deleted doc, and the
    // final batch trips the maxDeltaDirs=2 auto-compaction — which
    // folds the deltas, physically drops the tombstoned rows, and
    // CONSUMES the tombstone, leaving a sidecar attesting exactly the
    // survivor corpus. The oracle is a from-scratch BM25 over the
    // survivors, so a matching hash proves the delete/append/revive
    // ordering, the stat decrements, and the fold all exact.
    declare("stream_bm25_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val table = s"graft_postmut_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy — see stream_bm25_append
      graft.text.InvertedIndex.ensure(s, corpus,
        s"graft_post_${dirKey(dir)}", artifactDir("postings", dir), buckets = 8)
      val (scratch, idxDir) = seedCopy("streambm25mut", dir,
        artifactDir("postings", dir), "postings")
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("doc_id"), col("text"))
      val planted = corpus.filter(col("doc_id") < 8)
        .select((col("doc_id") + lit(8500000L)).as("doc_id"), col("text"))
      val b0 = op("add")(planted.filter(col("doc_id") < 8500006L))
      val b1 = op("del")(corpus.filter(col("doc_id").isin(2L, 9L)))
        .unionAll(op("del")(planted.filter(col("doc_id") === 8500001L)))
      val b2 = op("add")(corpus.filter(col("doc_id") === 9L)) // revival
      val b3 = op("add")(planted.filter(col("doc_id") >= 8500006L))
      val stream = replayStream(s, scratch, Seq(b0, b1, b2, b3))
      val q = graft.streaming.StreamingIngest.streamingPostingsMutations(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      awaitStream("stream_bm25_delete", q)
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // From-scratch BM25 over the CDC survivors: doc 2 stays deleted,
      // doc 9 was deleted then revived by a later add batch, planted
      // copy 8500001 was deleted after streaming in; everything else
      // (base ∪ planted) is live with exact merged stats.
      bm25SqlOver(
        """(SELECT doc_id, text FROM documents WHERE doc_id <> 2
          | UNION ALL
          | SELECT doc_id + 8500000 AS doc_id, text FROM documents
          | WHERE doc_id < 8 AND doc_id <> 1)""".stripMargin,
        20)),

    // CDC mutation stream on the SQ8 code store — the vector-side twin:
    // the query's three nearest non-self neighbors arrive as a delete
    // batch (with one just-streamed planted copy), the nearest is
    // revived by a later batch, and the final batch trips compaction
    // (physical drop + tombstone consumption under the untouched
    // quantizer). Masked delta-aware ADC + exact rerank must equal
    // exact top-10 over the survivor corpus — which the oracle
    // rebuilds from scratch.
    declare("stream_sq8_delete")((s, dir) => {
      val corpus = emb(s, dir)
      val baseDir = artifactDir("sq8", dir)
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val (scratch, codesDir) = seedCopy("streamsq8mut", dir, baseDir, "sq8")
      val query = vecOf(corpus, 0)
      // bounded: the exact top-4 comes back, self drops out -> 3 ids
      val delIds = VectorSearch.knnExact(corpus, query.toSeq, 4)
        .select(col("vec_id")).collect().map(_.getLong(0))
        .filter(_ != 0L).toIndexedSeq
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(6))
        .select((col("id") + lit(4800000L)).as("vec_id"), col("embedding"))
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("vec_id"), col("embedding"))
      val base2 = corpus.select(col("vec_id"), col("embedding"))
      val b0 = op("add")(planted.filter(col("vec_id") < 4800004L))
      val b1 = op("del")(base2.filter(col("vec_id").isin(delIds: _*)))
        .unionAll(op("del")(planted.filter(col("vec_id") === 4800001L)))
      val b2 = op("add")(base2.filter(col("vec_id") === delIds.head)) // revival
      val b3 = op("add")(planted.filter(col("vec_id") >= 4800004L))
      val stream = replayStream(s, scratch, Seq(b0, b1, b2, b3))
      val q = graft.streaming.StreamingIngest.streamingSq8Mutations(
        stream, codesDir, s"$scratch/chk", maxDeltaDirs = 2)
      awaitStream("stream_sq8_delete", q)
      val model = graft.index.Sq.modelFromArtifact(s, codesDir)
      val live = base2
        .filter(!col("vec_id").isin(delIds.tail: _*))
        .unionAll(planted.filter(col("vec_id") =!= 4800001L))
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, codesDir), live, model, query,
        k = 10, shortlist = 1000)
    })(
      // Exact top-10 over the CDC survivors: the top-3 non-self
      // neighbors were deleted, the NEAREST of them revived by a later
      // add batch (so only the other two stay deleted), and planted copy
      // 4800001 was deleted after streaming in.
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dists AS MATERIALIZED (
         |  SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |  FROM embeddings e CROSS JOIN q),
         |del AS MATERIALIZED (
         |  SELECT vec_id, dist FROM dists WHERE vec_id <> 0
         |  ORDER BY dist ASC, vec_id ASC LIMIT 3),
         |revived AS (SELECT vec_id FROM del
         |            ORDER BY dist ASC, vec_id ASC LIMIT 1),
         |net AS (SELECT vec_id FROM del
         |        WHERE vec_id NOT IN (SELECT vec_id FROM revived)),
         |c AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |      WHERE e.vec_id NOT IN (SELECT vec_id FROM net)
         |      UNION ALL
         |      SELECT 4800000 + r.i AS vec_id, e.embedding
         |      FROM embeddings e CROSS JOIN range(6) r(i)
         |      WHERE e.vec_id = 0 AND r.i <> 1)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // CDC mutation stream on the incremental EXACT-DEDUP HASH STORE
    // (r14 VERDICT task 4) — one (op, doc_id, text) feed drives the
    // full derived-store lifecycle: a dup re-crawl, a SAME-BATCH
    // takedown + re-crawl (covered-leg upsert: the add wins and
    // becomes the content's new owner), a later re-crawl deduping to
    // that new owner ACROSS the auto-compaction (which physically
    // drops the tombstoned pair and folds the new one in), and a final
    // re-crawl off the compacted base. The oracle replays every
    // verdict relationally from documents.
    declare("stream_dedup_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val seed = artifactDir("hashmut", dir)
      graft.dedup.Dedup.ensureHashStore(s, corpus, seed)
      val (scratch, store) = seedCopy("streamdedupmut", dir, seed, "store")
      // the two lowest-id unique-content docs (dedup_store_delete's device)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.text.TextAnalysis.normalizeText(col("text")))
      val uniq = corpus
        .withColumn("_c", count(lit(1)).over(w))
        .filter(col("_c") === 1)
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id"), col("text")).collect()
      val (delId, delText) = (uniq(0).getLong(0), uniq(0).getString(1))
      val (keepId, keepText) = (uniq(1).getLong(0), uniq(1).getString(1))
      import s.implicits._
      def batchDf(rows: Seq[(String, Long, String)]): DataFrame =
        rows.toDF("op", "doc_id", "text")
      val b0 = batchDf(Seq(
        ("add", 9150000L + delId, delText), ("add", 9150000L + keepId, keepText)))
      val b1 = batchDf(Seq( // same-batch takedown + re-crawl: the add wins
        ("del", delId, delText), ("add", 9160000L + delId, delText)))
      val b2 = batchDf(Seq(("add", 9170000L + delId, delText)))
      val b3 = batchDf(Seq(("add", 9180000L + delId, delText)))
      val stream = replayStream(s, scratch, Seq(b0, b1, b2, b3))
      val q = graft.streaming.StreamingIngest.streamingDedupMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk", maxDeltaDirs = 2)
      awaitStream("stream_dedup_delete", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("doc_id"))
    })(
      // The CDC hash-store lifecycle relationally: d1/d2 = the two
      // lowest-id unique-content docs; batch 0's re-crawls dedupe to the
      // originals, batch 1's SAME-BATCH takedown + re-crawl reports
      // NOVEL (covered-leg upsert — the add wins and owns the content),
      // and batches 2/3 dedupe to that new owner across the compaction.
      s"""WITH u AS (SELECT doc_id FROM (
         |      SELECT doc_id, count(*) OVER (PARTITION BY $NormSql) AS c
         |      FROM documents)
         |    WHERE c = 1 ORDER BY doc_id LIMIT 2),
         |d1 AS (SELECT min(doc_id) AS id FROM u),
         |d2 AS (SELECT max(doc_id) AS id FROM u)
         |SELECT CAST(9150000 + d1.id AS BIGINT) AS doc_id,
         |       CAST(0 AS BIGINT) AS is_new, CAST(d1.id AS BIGINT) AS dup_of
         |FROM d1
         |UNION ALL
         |SELECT CAST(9150000 + d2.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(d2.id AS BIGINT) FROM d2
         |UNION ALL
         |SELECT CAST(9160000 + d1.id AS BIGINT), CAST(1 AS BIGINT),
         |       CAST(NULL AS BIGINT) FROM d1
         |UNION ALL
         |SELECT CAST(9170000 + d1.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(9160000 + d1.id AS BIGINT) FROM d1
         |UNION ALL
         |SELECT CAST(9180000 + d1.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(9160000 + d1.id AS BIGINT) FROM d1
         |ORDER BY doc_id""".stripMargin),

    // CDC mutation stream on the FUZZY SIGNATURE STORE — the
    // entity-resolution twin: registry id 3 is taken down in the SAME
    // batch a fresh name within its old neighborhood streams in (the
    // add reports NOVEL — upsert), later re-crawls of that name
    // resolve to the NEW owner across the auto-compaction. Names are
    // the registry name + 'X' (edit distance ≥ 2 from every surviving
    // fixed-format customer name, exactly 1 from the masked one), so
    // every verdict is a constant the oracle pins.
    declare("stream_fuzzy_delete")((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val seed = artifactDir("fuzzmut", dir)
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), seed, "c_custkey", "c_name")
      val (scratch, store) = seedCopy("streamfuzzymut", dir, seed, "store")
      val name3 = cust.filter(col("c_custkey") === 3L)
        .select(col("c_name")).head().getString(0)
      val name6 = cust.filter(col("c_custkey") === 6L)
        .select(col("c_name")).head().getString(0)
      import s.implicits._
      def batchDf(rows: Seq[(String, Long, String)]): DataFrame =
        rows.toDF("op", "id", "name")
      val b0 = batchDf(Seq(("add", 9510006L, name6)))
      val b1 = batchDf(Seq( // same-batch takedown + novel neighbor: add wins
        ("del", 3L, name3), ("add", 9520003L, name3 + "X")))
      val b2 = batchDf(Seq(("add", 9530003L, name3 + "X")))
      val b3 = batchDf(Seq(("add", 9540003L, name3 + "X")))
      val stream = replayStream(s, scratch, Seq(b0, b1, b2, b3))
      val q = graft.streaming.StreamingIngest.streamingFuzzyMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk",
        idCol = "id", nameCol = "name", maxDeltaDirs = 2)
      awaitStream("stream_fuzzy_delete", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("id"))
    })(
      // The CDC fuzzy-store lifecycle: every verdict is a constant — the
      // suffixed name is ed ≥ 2 from every surviving fixed-format
      // customer name and exactly 1 from the masked one, so the
      // same-batch takedown + add is NOVEL and the later re-crawls
      // resolve to it at distance 0 across the compaction.
      """SELECT CAST(9510006 AS BIGINT) AS id, FALSE AS is_new,
        |       CAST(6 AS BIGINT) AS dup_of, CAST(0 AS INTEGER) AS dist
        |UNION ALL
        |SELECT CAST(9520003 AS BIGINT), TRUE, CAST(NULL AS BIGINT),
        |       CAST(NULL AS INTEGER)
        |UNION ALL
        |SELECT CAST(9530003 AS BIGINT), FALSE, CAST(9520003 AS BIGINT),
        |       CAST(0 AS INTEGER)
        |UNION ALL
        |SELECT CAST(9540003 AS BIGINT), FALSE, CAST(9520003 AS BIGINT),
        |       CAST(0 AS INTEGER)
        |ORDER BY id""".stripMargin),

    // CDC mutation stream on the NEAR-DUP SHINGLE STORE — the Jaccard
    // twin: doc 0 is taken down in the SAME batch a re-crawl of its
    // text streams in (covered-leg upsert; whether the re-crawl is
    // NOVEL depends on whether any surviving %3 doc is within Jaccard
    // 0.5 of text0 — a data fact the oracle replays relationally,
    // including the downstream consequences for the later re-crawls
    // across the auto-compaction).
    declare("stream_neardup_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val seed = artifactDir("shedmut", dir)
      graft.dedup.Dedup.ensureShingleStore(
        s, corpus.filter(col("doc_id") % 3 === 0), seed)
      val (scratch, store) = seedCopy("streamneardupmut", dir, seed, "store")
      val text0 = corpus.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0)
      val text3 = corpus.filter(col("doc_id") === 3L)
        .select(col("text")).head().getString(0)
      import s.implicits._
      def batchDf(rows: Seq[(String, Long, String)]): DataFrame =
        rows.toDF("op", "doc_id", "text")
      val b0 = batchDf(Seq(("add", 9310003L, text3)))
      val b1 = batchDf(Seq(("del", 0L, text0), ("add", 9320000L, text0)))
      val b2 = batchDf(Seq(("add", 9330000L, text0)))
      val b3 = batchDf(Seq(("add", 9340000L, text0)))
      val stream = replayStream(s, scratch, Seq(b0, b1, b2, b3))
      val q = graft.streaming.StreamingIngest.streamingNearDupMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk", maxDeltaDirs = 2)
      awaitStream("stream_neardup_delete", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("doc_id"))
    })(
      // The CDC shingle-store lifecycle relationally: batch 0 probes
      // text3 against the FULL %3 store (the takedown lands later), the
      // same-batch takedown + re-crawl of text0 probes the MASKED store
      // (novel-or-not is a data fact), and the later re-crawls' verdicts
      // split on that fact — if the re-crawl was novel they near-dup its
      // re-added copy at exact Jaccard 0, else they keep matching the
      // surviving neighbor.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corpf AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE doc_id % 3 = 0 AND len(toks) >= 3),
         |cszf AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corpf GROUP BY 1),
         |corp AS (SELECT * FROM corpf WHERE c_id <> 0),
         |csz AS (SELECT c_id, c_size FROM cszf WHERE c_id <> 0),
         |p3 AS (SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |       FROM t WHERE doc_id = 3 AND len(toks) >= 3),
         |p3z AS (SELECT CAST(count(*) AS BIGINT) AS b_size FROM p3),
         |s3 AS (SELECT i.c_id,
         |         1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + cszf.c_size - i.n_inter AS DOUBLE) AS jd
         |       FROM (SELECT c_id, CAST(count(*) AS BIGINT) AS n_inter
         |             FROM p3 JOIN corpf USING (s) GROUP BY 1) i
         |       JOIN cszf USING (c_id) CROSS JOIN p3z
         |       WHERE 1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + cszf.c_size - i.n_inter AS DOUBLE) <= 0.5),
         |n3 AS (SELECT min(c_id) AS id FROM s3),
         |j3 AS (SELECT s3.jd AS jd FROM s3 JOIN n3 ON s3.c_id = n3.id),
         |p0 AS (SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |       FROM t WHERE doc_id = 0 AND len(toks) >= 3),
         |p0z AS (SELECT CAST(count(*) AS BIGINT) AS b_size FROM p0),
         |s0 AS (SELECT i.c_id,
         |         1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p0z.b_size + csz.c_size - i.n_inter AS DOUBLE) AS jd
         |       FROM (SELECT c_id, CAST(count(*) AS BIGINT) AS n_inter
         |             FROM p0 JOIN corp USING (s) GROUP BY 1) i
         |       JOIN csz USING (c_id) CROSS JOIN p0z
         |       WHERE 1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p0z.b_size + csz.c_size - i.n_inter AS DOUBLE) <= 0.5),
         |n0 AS (SELECT min(c_id) AS id FROM s0),
         |j0 AS (SELECT s0.jd AS jd FROM s0 JOIN n0 ON s0.c_id = n0.id)
         |SELECT CAST(9310003 AS BIGINT) AS doc_id,
         |       CAST(0 AS BIGINT) AS is_novel,
         |       CAST((SELECT id FROM n3) AS BIGINT) AS near_dup_of,
         |       (SELECT jd FROM j3) AS jaccard_dist
         |UNION ALL
         |SELECT CAST(9320000 AS BIGINT),
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 1 ELSE 0 END AS BIGINT),
         |       CAST((SELECT id FROM n0) AS BIGINT),
         |       (SELECT jd FROM j0)
         |UNION ALL
         |SELECT CAST(9330000 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 9320000
         |            ELSE (SELECT id FROM n0) END AS BIGINT),
         |       CASE WHEN (SELECT id FROM n0) IS NULL THEN 0.0
         |            ELSE (SELECT jd FROM j0) END
         |UNION ALL
         |SELECT CAST(9340000 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 9320000
         |            ELSE (SELECT id FROM n0) END AS BIGINT),
         |       CASE WHEN (SELECT id FROM n0) IS NULL THEN 0.0
         |            ELSE (SELECT jd FROM j0) END
         |ORDER BY doc_id""".stripMargin),

    declare("stream_ivf_append")((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        artifactDir("ivf_appendbase", dir), nlist = 8, maxIter = 3)
      val (scratch, layoutDir) = seedCopy("streamappend", dir, base.dir, "layout")
      val layout = graft.index.Ivf.loadLayout(layoutDir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4200000L)).as("vec_id"),
          col("embedding"), col("label"))
      val stream = replayStream(s, scratch, Seq(
        planted.filter(col("vec_id") < 4200005L),
        planted.filter(col("vec_id") >= 4200005L)))
      val q = graft.streaming.StreamingIngest.streamingIvfAppend(
        stream, layoutDir, s"$scratch/chk")
      awaitStream("stream_ivf_append", q)
      val query = vecOf(corpus, 0)
      graft.index.Ivf.searchLayoutDeltaAware(s, layout, query, k = 10, nprobe = 1)
    })(
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4200000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Structured Streaming end-to-end, driver-checked: the events table
    // replayed as a FILE STREAM through the library's watermarked
    // windowed aggregation (Trigger.AvailableNow, complete mode); the
    // finished result must hash-match the batch SQL oracle — streaming
    // and batch semantics agree on the same data. Results flow through a
    // foreachBatch PARQUET sink and are read back — executor→disk→
    // executor, nothing materialized on the driver, so the declared
    // shape is the one that survives an unbounded result at scale.
    declare("stream_hourly")((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // the fixture is a single file and the file-stream source wants a
      // directory: stream the parent with a glob pinned to this table
      val stream = fixEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val counts = graft.streaming.StreamingIngest.windowedCounts(stream, "1 hour", "10 minutes")
      runStreamToParquet(s, dir, counts, outputMode = "complete",
          overwrite = true, tag = "stream_hourly")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"))
        .orderBy(col("hour"), col("event_type"))
    })(
      // the streaming replay must converge to exactly the batch aggregation
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Streaming exact dedup, driver-checked: the documents table
    // replayed as a file stream through streamingDedup (watermarked
    // dropDuplicates on the content hash — bounded state, unlike a
    // global distinct). WHICH row represents a hash is micro-batch
    // order-dependent, so the declared output is the deterministic part:
    // the distinct content-hash set, which must equal the batch DISTINCT.
    declare("stream_dedup")((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val deduped = graft.streaming.StreamingIngest.streamingDedup(stream, delay = "1 hour")
      runStreamToParquet(s, dir, deduped.select(col("content_hash")),
          outputMode = "append", overwrite = false, tag = "stream_dedup")
        .orderBy(col("content_hash"))
    })(
      // the streaming dedup's hash set must equal the batch DISTINCT
      s"""SELECT DISTINCT md5($NormSql) AS content_hash FROM documents
         |ORDER BY content_hash""".stripMargin),

    // STORE-backed streaming incremental dedup: the durable complement
    // of stream_dedup's watermark state — a %3==0 subset seeds the
    // persisted hash store, the full table streams through foreachBatch
    // verdicts (store never shuffled; novel hashes appended for the
    // next batch), executor state stays ZERO. Seeded-fresh per
    // invocation so reruns are deterministic.
    // STORE-backed streaming fuzzy ENTITY RESOLUTION: the crawl loop's
    // record-linkage leg — seed a FastSS posting store from the %3==0
    // customer registry, stream the %7==0 slice through two
    // micro-batches of best-match verdicts (store ∪ earlier in-batch,
    // by (distance, id)), append novel names' postings for the next
    // batch. Executor state ZERO; batch-keyed overwrite deltas.
    declare("stream_fuzzy_resolve")((s, dir) => {
      val seedDir = artifactDir("seedfuzzy", dir)
      val cust = tbl(s, dir, "customer")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), seedDir, "c_custkey", "c_name")
      val (scratch, storeDir) = seedCopy("stream_fuzzy_resolve", dir, seedDir, "store")
      val slice = cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      val stream = replayStream(s, scratch, Seq(
        slice.filter(col("c_custkey") % 14 === 0),
        slice.filter(col("c_custkey") % 14 =!= 0)))
      val q = graft.streaming.StreamingIngest.streamingFuzzyResolve(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk",
        "c_custkey", "c_name")
      awaitStream("stream_fuzzy_resolve", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("c_custkey"), col("is_new"), col("dup_of"), col("dist"))
        .orderBy(col("c_custkey"))
    })(
      // Store-backed streaming incremental dedup: the oracle rebuilds
      // the %3==0 seed store, then replays the single-file micro-batch's
      // verdicts — store hit → dup_of = store first owner; within-batch
      // duplicate → min batch id; novel first occurrence → is_new.
      // BRUTE-FORCE replay of the two-micro-batch resolve: batch 0
      // matches seed ∪ earlier-in-batch; batch 1 additionally matches
      // batch 0's NOVEL names (the only rows whose postings were
      // appended). Best match = (distance, id) ascending.
      """WITH seed AS (SELECT c_custkey AS sid, c_name AS sn FROM customer WHERE c_custkey % 3 = 0),
        |b0 AS (SELECT c_custkey AS id, c_name AS n FROM customer
        |       WHERE c_custkey % 7 = 0 AND c_custkey % 14 = 0),
        |b1 AS (SELECT c_custkey AS id, c_name AS n FROM customer
        |       WHERE c_custkey % 7 = 0 AND c_custkey % 14 <> 0),
        |m0 AS (SELECT x.id, y.sid AS mid, levenshtein(x.n, y.sn) AS dist
        |       FROM b0 x JOIN seed y ON levenshtein(x.n, y.sn) <= 1
        |       UNION ALL
        |       SELECT x.id, y.id AS mid, levenshtein(x.n, y.n) AS dist
        |       FROM b0 x JOIN b0 y ON y.id < x.id AND levenshtein(x.n, y.n) <= 1),
        |best0 AS MATERIALIZED (SELECT id, mid, dist FROM
        |       (SELECT id, mid, dist,
        |               row_number() OVER (PARTITION BY id ORDER BY dist, mid) AS rn
        |        FROM m0) WHERE rn = 1),
        |nov0 AS MATERIALIZED (SELECT x.id, x.n FROM b0 x
        |       LEFT JOIN best0 ON x.id = best0.id WHERE best0.id IS NULL),
        |m1 AS (SELECT x.id, y.sid AS mid, levenshtein(x.n, y.sn) AS dist
        |       FROM b1 x JOIN seed y ON levenshtein(x.n, y.sn) <= 1
        |       UNION ALL
        |       SELECT x.id, y.id AS mid, levenshtein(x.n, y.n) AS dist
        |       FROM b1 x JOIN nov0 y ON levenshtein(x.n, y.n) <= 1
        |       UNION ALL
        |       SELECT x.id, y.id AS mid, levenshtein(x.n, y.n) AS dist
        |       FROM b1 x JOIN b1 y ON y.id < x.id AND levenshtein(x.n, y.n) <= 1),
        |best1 AS (SELECT id, mid, dist FROM
        |       (SELECT id, mid, dist,
        |               row_number() OVER (PARTITION BY id ORDER BY dist, mid) AS rn
        |        FROM m1) WHERE rn = 1),
        |v AS (SELECT x.id, b.mid, b.dist FROM b0 x LEFT JOIN best0 b ON x.id = b.id
        |      UNION ALL
        |      SELECT x.id, b.mid, b.dist FROM b1 x LEFT JOIN best1 b ON x.id = b.id)
        |SELECT id AS c_custkey, (mid IS NULL) AS is_new, mid AS dup_of,
        |       CAST(dist AS INTEGER) AS dist
        |FROM v ORDER BY c_custkey""".stripMargin),

    declare("stream_incremental")((s, dir) => {
      // seed store built once per dataset (sidecar), copied per run —
      // the stream appends to its copy (same device as the near leg)
      val seedDir = artifactDir("seedhash", dir)
      graft.dedup.Dedup.ensureHashStore(
        s, docs(s, dir).filter(col("doc_id") % 3 === 0), seedDir)
      val (scratch, storeDir) = seedCopy("stream_incremental", dir, seedDir, "store")
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.StreamingIngest.streamingIncrementalDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      awaitStream("stream_incremental", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("is_new"), col("dup_of"))
        .orderBy(col("doc_id"))
    })(
      s"""WITH st AS (SELECT md5($NormSql) AS h, min(doc_id) AS first_id
         |            FROM documents WHERE doc_id % 3 = 0 GROUP BY 1),
         |b AS (SELECT doc_id, md5($NormSql) AS h FROM documents),
         |r AS (SELECT doc_id, h,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
         |        min(doc_id) OVER (PARTITION BY h) AS batch_first
         |      FROM b)
         |SELECT r.doc_id,
         |  CAST(CASE WHEN st.first_id IS NULL AND rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_new,
         |  coalesce(st.first_id, CASE WHEN rn > 1 THEN batch_first END) AS dup_of
         |FROM r LEFT JOIN st USING (h) ORDER BY doc_id""".stripMargin),

    // STORE-backed streaming incremental NEAR-dup: the crawl loop's
    // near-duplicate leg — seed a shingle-posting store from the
    // %3==0 corpus slice, stream the documents table through
    // batch-vs-store Jaccard verdicts, append novel docs' postings
    // for the next batch. Executor state is ZERO by design (durable
    // memory is the posting artifact); side effects are batch-keyed
    // overwrites, so redelivery is idempotent. The oracle rebuilds
    // the seed store and replays the single-file micro-batch.
    declare("stream_incremental_near")((s, dir) => {
      // the SEED posting store is a build-once artifact per dataset
      // (fingerprint sidecar in tmpdir); each run FILE-COPIES it into
      // its own scratch — the stream mutates its copy (posting
      // appends), so runs stay isolated without re-tokenizing the seed
      // corpus per invocation
      val seedDir = artifactDir("seedshingle", dir)
      graft.dedup.Dedup.ensureShingleStore(
        s, docs(s, dir).filter(col("doc_id") % 3 === 0), seedDir)
      val (scratch, storeDir) = seedCopy("stream_incremental_near", dir, seedDir, "store")
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.StreamingIngest.streamingIncrementalNearDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      awaitStream("stream_incremental_near", q)
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("is_novel"), col("near_dup_of"),
          col("jaccard_dist"))
        .orderBy(col("doc_id"))
    })(
      // Streaming incremental NEAR-dup: the oracle rebuilds the %3==0
      // seed shingle store, then replays the single-file micro-batch's
      // exact-Jaccard verdicts (store is as-of batch start; the appends
      // only matter to a NEXT batch, which this bounded replay has none
      // of — cross-batch durability is spec-pinned by the two-run
      // MemoryStream test instead).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corp AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE doc_id % 3 = 0 AND len(toks) >= 3),
         |csz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corp GROUP BY 1),
         |bsh AS (SELECT doc_id AS b_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |bsz AS (SELECT b_id, CAST(count(*) AS BIGINT) AS b_size FROM bsh GROUP BY 1),
         |inter AS (SELECT b_id, c_id, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM bsh JOIN corp USING (s) GROUP BY 1, 2),
         |sc AS (SELECT b_id, c_id,
         |         1.0 - CAST(n_inter AS DOUBLE) / CAST(b_size + c_size - n_inter AS DOUBLE) AS jd
         |       FROM inter JOIN csz USING (c_id) JOIN bsz USING (b_id)
         |       WHERE 1.0 - CAST(n_inter AS DOUBLE) / CAST(b_size + c_size - n_inter AS DOUBLE) <= 0.5),
         |best AS (SELECT b_id, min(c_id) AS near_dup_of FROM sc GROUP BY 1),
         |bj AS (SELECT best.b_id, best.near_dup_of, sc.jd
         |       FROM best JOIN sc ON sc.b_id = best.b_id AND sc.c_id = best.near_dup_of)
         |SELECT d.doc_id,
         |       CAST(CASE WHEN bj.near_dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       bj.near_dup_of, bj.jd AS jaccard_dist
         |FROM documents d LEFT JOIN bj ON bj.b_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Streaming curation replay: language + quality gates feeding the
    // watermarked exact dedup, over the documents table as a file
    // stream. As with stream_dedup, WHICH row represents a hash is
    // micro-batch order-dependent, so the declared output is the
    // deterministic part: the distinct content-hash set of gate
    // survivors, equal to the batch gates + DISTINCT.
    declare("stream_curate")((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val curated = graft.streaming.StreamingIngest.streamingCurate(
        stream, lang = "en", minQuality = 0.5, delay = "1 hour")
      runStreamToParquet(s, dir, curated.select(col("content_hash")),
          outputMode = "append", overwrite = false, tag = "stream_curate")
        .orderBy(col("content_hash"))
    })(
      // batch replay of the streaming gates + dedup: lang/quality gate
      // fragments verbatim from the corpus_curate oracle, then DISTINCT
      s"""WITH base AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |ling AS (SELECT doc_id, norm, toks,
         |  $LangScoresSql
         |  FROM base)
         |SELECT DISTINCT md5(norm) AS content_hash FROM ling
         |WHERE (CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |            WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |            WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |            WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |            WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |            ELSE 'zh' END) = 'en'
         |  AND (least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.4 +
         |       CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.4 +
         |       (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |                  / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2) >= 0.5
         |ORDER BY content_hash""".stripMargin)
  )
}
