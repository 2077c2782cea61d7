package graft
package queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

import Fixtures._

/** Corpus curation: text normalization, language and quality gates, PII
  * scrubbing, exact, n-gram and semantic dedup, decontamination,
  * n-gram LM scoring, classifiers, mixtures, sampling, splits and
  * sequence packing. */
object CurationQueries {
  private val declare = new Declared.Family("curation")

  /** Planted-PII suffix for doc_pii_scrub — shared by the Spark query
    * and the oracle SQL so the fixture cannot drift. */
  private val PiiSuffix = " contact bob.smith+spam@example-corp.io or 555-867-5309 now"

  /** Planted boilerplate for dedup_chunks: EXACTLY 25 tokens — one full
    * chunk at chunkTokens=25 — prepended to every doc_id%5==0 row, so
    * all planted docs share chunk 0 verbatim and chunk dedup must strip
    * it everywhere but the first occurrence. Shared with the oracle SQL
    * so the fixture cannot drift. */
  private val ChunkBoilerplate =
    "terms of service this content is provided as is without warranty " +
      "of any kind either express or implied including but not limited " +
      "to the implied"

  /** Karp-Rabin k-gram hash for the winnowing oracle: the rolling hash
    * h(i+1) = (h(i) − c·B^(k−1))·B + c' telescopes to Σ c_j·B^(k−1−j)
    * (mod 2^64), so each hash is one flat sum with the powers of
    * B = 1000003 precomputed mod 2^64 (they exceed HUGEINT un-reduced). */
  private val WinnowTermsSql = {
    val mod = BigInt(1) << 64
    (0 until 8).map { j =>
      val p = BigInt(1000003).pow(7 - j).mod(mod)
      s"CAST(unicode(c[i+$j]) AS HUGEINT) * $p"
    }.mkString(" + ")
  }

  /** The oracle shared by `stream_pack_ids`, `seq_pack`. */
  private lazy val SeqPackOracleSql: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id,
       |         CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) AS BIGINT) - 1)
       |                        * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 8 AS INTEGER) AS part,
       |         CAST(len($ToksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |d AS (SELECT doc_id, part, n_tokens,
       |             CAST(row_number() OVER (PARTITION BY part ORDER BY doc_id) AS INTEGER) AS rn
       |      FROM base),
       |pack(part, rn, doc_id, bin_idx, fill) AS (
       |  SELECT part, rn, doc_id, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.part, d.rn, d.doc_id,
       |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.bin_idx ELSE p.bin_idx + 1 END,
       |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.fill + d.n_tokens ELSE d.n_tokens END
       |  FROM pack p JOIN d ON d.part = p.part AND d.rn = p.rn + 1)
       |SELECT doc_id, part, bin_idx FROM pack ORDER BY doc_id""".stripMargin

  /** The oracle shared by `decontaminate`, `decontaminate_bloom`. */
  private lazy val DecontaminateOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |cs AS (SELECT doc_id,
       |              unnest(list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])) AS shingle
       |       FROM t WHERE len(toks) >= 5),
       |bs AS (SELECT doc_id + 9000000 AS bench_id,
       |              unnest(list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])) AS shingle
       |       FROM t WHERE doc_id % 100 = 0 AND len(toks) >= 5),
       |rare AS (SELECT shingle FROM cs GROUP BY 1 HAVING count(*) <= 500)
       |SELECT cs.doc_id, bs.bench_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cs JOIN rare USING (shingle) JOIN bs USING (shingle)
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_id, bench_id""".stripMargin

  val declared: Seq[Declared] = Seq(
    // SQL-surface text analytics: per-language doc counts + summed
    // micro-quantized quality through the registered lang_id and
    // quality_score kernels — one GROUP BY statement a SQL user would
    // actually write over a curation corpus.
    declare("sql_lang_quality")((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_v")
      s.sql(
        """SELECT lang_id(n) AS lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(CAST(floor(quality_score(n) * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro
          |FROM docs_norm_v
          |GROUP BY lang ORDER BY lang""".stripMargin)
    })(
      // The lang-id CASE twin + the quality formula twin, grouped.
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  $LangScoresSql,
         |  CAST(len(toks) AS DOUBLE) AS n_tok,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS stop
         |  FROM t),
         |l AS (SELECT doc_id,
         |  $LangCaseSql AS lang,
         |  least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |  (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS q
         |  FROM s)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(floor(q * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin),

    // Temperature-flattened mixture (α = 1/2 exponent sampling, the
    // XLM-R-style rebalance): per-source keep thresholds ∝ √n_s under a
    // 300-doc budget — all integer arithmetic (⌊√n⌋ is exact) the
    // oracle rederives from the same histogram; row fate is the usual
    // md5 deviate. Narrow literal-threshold filter, no shuffle.
    declare("corpus_temp_mixture")((s, dir) => {
      graft.ops.Sampling.temperatureMixture(docs(s, dir), "source",
          budget = 300L, salt = "tm2")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    })(
      // Rederives the √n thresholds from the same histogram with the same
      // integer floor chain, then replays the md5 deviate filter.
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |r AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS t FROM c),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tr FROM r),
        |th AS (SELECT source, n, least(10000, ((300 * t) // tr) * 10000 // n) AS thresh FROM r, tot),
        |h AS (SELECT d.doc_id, d.source, th.thresh,
        |        list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'tm2')[i]) AS BIGINT) - 1)
        |                  * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
        |      FROM documents d JOIN th USING (source))
        |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin),

    // Overlapping context-window chunking (32-token windows, stride 24
    // — 8-token overlap): the RAG / long-doc splitter. Boundaries are
    // integer arithmetic; each chunk's CONTENT is pinned via the md5 of
    // the space-joined window. Narrow explode, no shuffle.
    declare("doc_chunks")((s, dir) => {
      TextAnalysis.docChunks(docs(s, dir), window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    })(
      // Replays the window arithmetic (K = ⌈(n−32)/24⌉ via integer ceil)
      // and pins every chunk's content hash.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |st AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |k AS (SELECT doc_id, toks, n,
         |        unnest(range(0, CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END + 1)) AS chunk_idx
         |      FROM st),
         |ch AS (SELECT doc_id, chunk_idx,
         |         toks[(chunk_idx*24 + 1):least(chunk_idx*24 + 32, n)] AS chunk
         |       FROM k)
         |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // Corpus-wide top-40 vocabulary (count desc, token tiebreak) — the
    // tokenizer/stopword-building rollup: map-side partial counts into
    // a bounded global top-k (TakeOrderedAndProject), never a full sort.
    declare("corpus_vocab")((s, dir) => {
      TextAnalysis.topTokens(docs(s, dir), k = 40)
    })(
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, CAST(count(*) AS BIGINT) AS n FROM occ
         |GROUP BY 1 ORDER BY n DESC, token LIMIT 40""".stripMargin),

    // Zipf profile: frequency-of-frequency over the vocabulary — both
    // aggregations are massive reductions (wordcount partial-aggregates
    // the hot head map-side; the second groupBy sees |vocab| rows).
    declare("corpus_token_spectrum")((s, dir) => {
      TextAnalysis.tokenFrequencySpectrum(docs(s, dir))
    })(
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences FROM occ GROUP BY 1)
         |SELECT occurrences, CAST(count(*) AS BIGINT) AS n_tokens
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // Windowed PMI collocations: map-only pair generation (posexplode +
    // slice — no self-join), map-side partial counts, minCount cut
    // before the unigram joins, 1-row broadcast totals, TakeOrdered.
    declare("doc_pmi_pairs")((s, dir) => {
      TextAnalysis.pmiPairs(docs(s, dir), window = 3, minCount = 5L, topK = 30,
        broadcastUnigrams = true)
    })(
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |pr AS (SELECT toks[i] AS a, toks[i+d] AS b
         |       FROM t, unnest(range(1, len(toks)+1)) AS u(i),
         |              unnest(range(1, 4)) AS v(d)
         |       WHERE i + d <= len(toks)),
         |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
         |uc AS (SELECT w, count(*) AS n_w
         |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM uc),
         |tp AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS n_pairs FROM pc)
         |SELECT pc.a, pc.b, CAST(pc.n_ab AS BIGINT) AS n_ab,
         |       CAST(floor(ln((CAST(pc.n_ab AS DOUBLE) / tp.n_pairs) /
         |            ((CAST(ua.n_w AS DOUBLE) / tt.n_tok) *
         |             (CAST(ub.n_w AS DOUBLE) / tt.n_tok))) * 1000000.0) AS BIGINT)
         |         AS pmi_micro
         |FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w, tt, tp
         |WHERE pc.n_ab >= 5
         |ORDER BY pmi_micro DESC, pc.a, pc.b LIMIT 30""".stripMargin),

    // TextRank keywords (Mihalcea & Tarau '04): integer-micro PageRank
    // over the bounded window-co-occurrence graph — 5 damped rounds of
    // exact floor-division contributions, so the iterative ranking
    // replays bit-identically. Corpus work = the one co-occurrence
    // aggregation; the walk runs on the vocab-bounded edge set.
    declare("corpus_textrank")((s, dir) => {
      TextAnalysis.textRank(docs(s, dir), window = 3, minCount = 5L,
        iters = 5, topK = 20)
    })(
      // PMI: identical double ops in identical order (pair prob over the
      // product of unigram probs), micro-quantized ln — ranking and
      // hashing happen on the integer, the tf-idf/BM25 convention.
      // Replays the co-occurrence graph build (canonical unordered
      // pairs, min-count cut) and 5 UNROLLED integer PageRank rounds —
      // the same (r*850000) // (deg*1000000) floor contributions.
      {
        val rounds = (1 to 5).map { r =>
          s"""r$r AS MATERIALIZED (
             |  SELECT adj.v AS node, CAST(150000 + sum((p.r * 850000) // (d.deg * 1000000)) AS BIGINT) AS r
             |  FROM adj JOIN r${r - 1} p ON p.node = adj.u JOIN deg d ON d.u = adj.u
             |  GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
           |pr AS (SELECT toks[i] AS a, toks[i+d] AS b
           |       FROM t, unnest(range(1, len(toks)+1)) AS u(i),
           |              unnest(range(1, 4)) AS v(d)
           |       WHERE i + d <= len(toks) AND toks[i] <> toks[i+d]),
           |e AS MATERIALIZED (
           |  SELECT a, b FROM (
           |    SELECT CASE WHEN a < b THEN a ELSE b END AS a,
           |           CASE WHEN a < b THEN b ELSE a END AS b
           |    FROM pr)
           |  GROUP BY 1, 2 HAVING count(*) >= 5),
           |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
           |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
           |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
           |$rounds
           |SELECT node AS token, r AS rank_micro
           |FROM r5 ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
      }),

    // STREAMING tokenization — the crawl loop's last mile: two
    // micro-batches of documents (corpus split by doc_id parity,
    // maxFilesPerTrigger=1) tokenize to ids under the SHARED persisted
    // model artifact in the full production configuration (▁ marker +
    // 98% character coverage + byte fallback). Tokenization is
    // stateless per batch — each micro-batch rebuilds its own word
    // cache, executor state 0 (measured via stream_state) — and the
    // sink is batch-keyed overwrite (idempotent redelivery). The
    // oracle replays the BATCH semantics over the whole corpus:
    // streaming over a partition of the input must equal the batch
    // run, which is exactly what statelessness buys.
    // Streaming PACKING with carryover — the trainer-feed binner as a
    // continuous operator: a partially-filled bin is never flushed at
    // a batch boundary; its (bin, fill) cursor lives in the
    // checkpointed flatMapGroupsWithState store and the next batch
    // keeps filling it. Run as TWO streaming queries over one
    // checkpoint (deterministic batch order AND durable-state
    // recovery: the second run restores the pack cursors from the
    // checkpoint, not from memory). Ids arrive ascending across the
    // two batches, so the final assignment is bit-identical to the
    // batch packGreedy — the seq_pack oracle replays it.
    declare("stream_pack_ids")((s, dir) => {
      val d = docs(s, dir)
      val scratch = scratchDir("streampack", dir)
      val inDir = s"$scratch/in"
      val threshold = d.agg(max(col("doc_id"))).head().getLong(0) / 2
      d.filter(col("doc_id") <= threshold).coalesce(1)
        .write.mode("overwrite").parquet(inDir)
      awaitStream("stream_pack_ids", graft.streaming.StreamPack.streamingPackIds(
        s.readStream.schema(d.schema).parquet(inDir),
        s"$scratch/sink", s"$scratch/chk", budget = 256L, nParts = 8))
      d.filter(col("doc_id") > threshold).coalesce(1)
        .write.mode("append").parquet(inDir)
      awaitStream("stream_pack_ids", graft.streaming.StreamPack.streamingPackIds(
        s.readStream.schema(d.schema).parquet(inDir),
        s"$scratch/sink", s"$scratch/chk", budget = 256L, nParts = 8))
      s.read.parquet(s"$scratch/sink")
        .select(col("doc_id"), col("part"), col("bin_idx"))
        .orderBy(col("doc_id"))
    })(
      // The streaming packer's id-ascending two-batch replay equals the
      // batch packGreedy exactly (carryover across the batch boundary is
      // what makes them equal — a flushed tail bin would shift every
      // later bin index), so the oracle IS the batch recurrence.
      SeqPackOracleSql),

    // ---- text analysis (charter LLM-pipeline extensions) ----
    // Token counting: whitespace + BPE-ish counts, length stats — a
    // narrow single-pass projection (no shuffle).
    declare("doc_token_stats")((s, dir) => {
      TextAnalysis.docStats(docs(s, dir)).orderBy(col("doc_id"))
    })(
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(ceil(CAST(length(regexp_replace(norm, '[^\\p{L}\\p{N}]', '', 'g')) AS DOUBLE) / 4.0)
         |            + length(regexp_replace(norm, '[\\p{L}\\p{N} ]', '', 'g')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(length(norm) AS BIGINT) AS n_chars_norm,
         |       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
         |       CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS unique_ratio
         |FROM t ORDER BY doc_id""".stripMargin),

    // Quality scoring: length/diversity/stopword heuristic filter score.
    declare("doc_quality")((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    })(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        CAST(len(toks) AS DOUBLE) AS n_tok,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |        CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS stop
         |      FROM t)
         |SELECT doc_id,
         |       least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |       (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |FROM s ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic: per-language marker-word hits + argmax.
    declare("doc_lang_id")((s, dir) => {
      val scoreCols = TextAnalysis.langScores(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir)
        .select(col("doc_id") +: scoreCols :+ TextAnalysis.languageId(col("text")).as("lang_id"): _*)
        .orderBy(col("doc_id"))
    })(
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  $LangScoresSql
         |  FROM t)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
         |  $LangCaseSql AS lang_id
         |FROM s ORDER BY doc_id""".stripMargin),

    // PII scrubbing: the redaction pass a corpus runs before training.
    // The fixture has no organic PII, so every 7th doc gets a planted
    // email + phone suffix (identically in the oracle); the declared
    // output is the scrubbed-text md5 and the redaction count, so a
    // single missed or mangled replacement breaks the hash match.
    declare("doc_pii_scrub")((s, dir) => {
      val planted = docs(s, dir).withColumn("txt",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(PiiSuffix)))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          md5(TextAnalysis.scrubPii(col("txt"))).as("scrub_md5"),
          TextAnalysis.piiCount(col("txt")).as("n_redactions"))
        .orderBy(col("doc_id"))
    })(
      // Same planted suffix and patterns — interpolated from the SAME
      // constants the operator uses (TextAnalysis.EmailPattern/
      // PhonePattern, PiiSuffix), so the pair cannot drift. Java regex and
      // RE2 agree on these constructs; 'g' matches Spark's replace-all
      // default; the phone count runs on email-scrubbed text like the
      // operator.
      s"""WITH d AS (SELECT doc_id,
         |             CASE WHEN doc_id % 7 = 0
         |                  THEN text || '$PiiSuffix'
         |                  ELSE text END AS txt
         |           FROM documents),
         |e AS (SELECT doc_id, txt,
         |             regexp_replace(txt, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g') AS txt_e
         |      FROM d)
         |SELECT doc_id,
         |       md5(regexp_replace(txt_e, '${TextAnalysis.PhonePattern}', '<PHONE>', 'g')) AS scrub_md5,
         |       CAST(len(regexp_extract_all(txt, '${TextAnalysis.EmailPattern}'))
         |            + len(regexp_extract_all(txt_e, '${TextAnalysis.PhonePattern}')) AS BIGINT) AS n_redactions
         |FROM e ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals: duplicate-n-gram and top-n-gram
    // occupancy fractions — the boilerplate/degenerate-loop filters that
    // complement the composite quality score. Per-row, no shuffle.
    declare("doc_repetition")((s, dir) => {
      // fused single-pass kernel (RepetitionExpr); the declarative
      // rawNgrams/dupNgramFraction/topNgramFraction cascade stays as
      // the bit-compared reference (TextAnalysisSpec)
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.repetition(col("toks")).as("r"))
        .select(col("doc_id"),
          col("r.dup_2gram_frac").as("dup_2gram_frac"),
          col("r.top_2gram_frac").as("top_2gram_frac"),
          col("r.dup_3gram_frac").as("dup_3gram_frac"))
        .orderBy(col("doc_id"))
    })(
      // Raw (non-distinct) n-gram lists rebuilt with list comprehensions;
      // every fraction is a single integer division, so float values match
      // bit-for-bit.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] END AS g2,
         |        CASE WHEN len(toks) < 3 THEN [] ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END AS g3
         |      FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE CAST(list_max([len(list_filter(g2, y -> y = x)) FOR x IN list_distinct(g2)]) AS DOUBLE)
         |            / CAST(len(g2) AS DOUBLE) END AS top_2gram_frac,
         |  CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac
         |FROM g ORDER BY doc_id""".stripMargin),

    // Eval decontamination: corpus docs sharing ≥2 distinct 5-gram
    // shingles with a benchmark set (here: every 100th doc, re-keyed) —
    // the pre-training contamination sweep. Bucketed shared-shingle
    // join; the hot-shingle cap is computed on the corpus side.
    declare("decontaminate")((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlap(d, bench, n = 5, minShared = 2L, maxShingleDf = 500L)
        .orderBy(col("doc_id"), col("bench_id"))
    })(
      // The same distinct-5-gram construction on both sides; the corpus-
      // side df cap and the ≥2 shared-shingle floor mirror the operator.
      DecontaminateOracleSql),

    // Bloom-prefiltered decontamination: same answer as `decontaminate`
    // (and the same oracle SQL — the hashes must agree), different
    // 100 TB shape: the bench shingle set broadcasts as BITS and kills
    // almost every corpus shingle map-side before any shuffle; the
    // exact bench join removes bloom false positives, and the
    // hot-shingle cap still sees exact corpus-wide counts because
    // bloom membership is a pure function of the shingle value.
    declare("decontaminate_bloom")((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlapBloom(d, bench, n = 5, minShared = 2L,
          maxShingleDf = 500L, fpp = 0.01)
        .orderBy(col("doc_id"), col("bench_id"))
    })(
      // IDENTICAL text to the `decontaminate` oracle: the bloom form must
      // reproduce the exact answer — false positives die in the bench
      // join, false negatives cannot exist, the df cap sees true counts.
      DecontaminateOracleSql),

    // Gopher-rule quality gate (Rae et al. §A1.1): the canonical
    // rule-based pretraining filter — word-count band, mean word
    // length, symbol ratio, bullet/ellipsis line fractions, alphabetic
    // word fraction, stopword floor. Narrow single-pass projection;
    // stats ship with the verdict so re-thresholding needs no rescan.
    declare("doc_gopher_filter")((s, dir) => {
      TextAnalysis.gopherStats(docs(s, dir), minWords = 10L, maxWords = 100000L)
        .orderBy(col("doc_id"))
    })(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks, $NormSql AS norm,
         |                  string_split(coalesce(text, ''), chr(10)) AS lines
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        CAST(len(toks) AS BIGINT) AS n_words,
         |        CASE WHEN len(toks) = 0 THEN NULL
         |             ELSE CAST(floor(CAST(list_sum([len(x) FOR x IN toks]) AS DOUBLE) * 1000000.0
         |                   / CAST(len(toks) AS DOUBLE)) AS BIGINT) END AS mean_word_len_q,
         |        CAST(len(norm) - len(replace(norm, '#', '')) AS BIGINT)
         |          + CAST((len(norm) - len(replace(norm, '...', ''))) / 3 AS BIGINT) AS n_sym,
         |        CAST(len(lines) AS BIGINT) AS n_lines,
         |        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
         |        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ell,
         |        CAST(len(list_filter(toks, x -> regexp_matches(x, '\\p{L}'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                             w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
         |      FROM t),
         |g AS (SELECT doc_id, n_words, mean_word_len_q,
         |        CASE WHEN n_words = 0 THEN NULL
         |             ELSE CAST(floor(CAST(n_sym AS DOUBLE) * 1000000.0 / CAST(n_words AS DOUBLE)) AS BIGINT) END AS symbol_ratio_q,
         |        n_lines,
         |        CAST(floor(CAST(n_bullet AS DOUBLE) * 1000000.0 / CAST(n_lines AS DOUBLE)) AS BIGINT) AS bullet_frac_q,
         |        CAST(floor(CAST(n_ell AS DOUBLE) * 1000000.0 / CAST(n_lines AS DOUBLE)) AS BIGINT) AS ellipsis_frac_q,
         |        CASE WHEN n_words = 0 THEN NULL
         |             ELSE CAST(floor(CAST(n_alpha AS DOUBLE) * 1000000.0 / CAST(n_words AS DOUBLE)) AS BIGINT) END AS alpha_frac_q,
         |        stop_hits
         |      FROM s)
         |SELECT *, (n_words BETWEEN 10 AND 100000 AND mean_word_len_q BETWEEN 3000000 AND 10000000
         |           AND symbol_ratio_q <= 100000 AND bullet_frac_q < 900000
         |           AND ellipsis_frac_q < 300000 AND alpha_frac_q >= 800000
         |           AND stop_hits >= 2) AS passes
         |FROM g ORDER BY doc_id""".stripMargin),

    // C4 cleaning rules (Raffel et al. JMLR'20 §2.2): line-level keep
    // rules (terminal punctuation, ≥3 words, no "javascript") + page
    // verdict (≥5 surviving sentences, no "lorem ipsum"/"{"), emitting
    // the cleaned text itself so the oracle hash-checks the rewrite,
    // not just the counters. The fixture corpus is punctuation-free
    // single-line word soup (every rule would trivially fail), so the
    // query first derives a lined corpus deterministically: sentence
    // breaks after each 'spark' token, a page-rejecting '{' line on
    // every 17th doc, a 'lorem ipsum' line on every 23rd — the SAME
    // derivation runs in the oracle SQL, so the rules are exercised on
    // both pass and fail paths. Map-only HOF scan — no UDF, no shuffle.
    declare("doc_c4_filter")((s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "spark", "spark.\n"),
          when(col("doc_id") % 17 === 0, lit("\ncurly brace line {")).otherwise(lit("")),
          when(col("doc_id") % 23 === 0, lit("\nthis page has lorem ipsum filler"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.c4Filter(lined).orderBy(col("doc_id"))
    })(
      // The C4 rules replayed in SQL: same line predicates (terminal
      // punctuation after trim, ≥3 \S+ words, no "javascript"), same
      // cleaned-text rejoin, same page verdict — the hash match covers
      // the rewritten text byte-for-byte.
      """WITH d AS (SELECT doc_id,
        |        replace(text, 'spark', 'spark.' || chr(10))
        |        || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'curly brace line {' ELSE '' END
        |        || CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'this page has lorem ipsum filler' ELSE '' END
        |          AS text
        |      FROM documents),
        |st AS (SELECT doc_id, text,
        |        string_split(coalesce(text, ''), chr(10)) AS lines,
        |        list_filter(string_split(coalesce(text, ''), chr(10)), l ->
        |          regexp_matches(trim(l), '[.!?"]$')
        |          AND len(regexp_extract_all(l, '\S+')) >= 3
        |          AND NOT contains(lower(l), 'javascript')) AS kept
        |      FROM d),
        |c AS (SELECT doc_id, text,
        |        CAST(len(lines) AS BIGINT) AS n_lines,
        |        CAST(len(kept) AS BIGINT) AS n_kept,
        |        coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        |      FROM st),
        |s AS (SELECT *,
        |        CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT) AS n_sentences
        |      FROM c)
        |SELECT doc_id, n_lines, n_kept, n_sentences,
        |       (n_sentences >= 5 AND NOT contains(lower(text), 'lorem ipsum')
        |        AND NOT contains(text, '{')) AS passes_c4,
        |       clean_text
        |FROM s ORDER BY doc_id""".stripMargin),

    // CCNet perplexity bucketing (Wenzek et al. §4.3): per-source
    // head/middle/tail tiles by bigram-LM score. The Spark side computes
    // NTILE via the counting-sort decomposition (no per-source global
    // sort — the 100 TB shape); the oracle states plain NTILE.
    declare("doc_ppl_buckets")((s, dir) => {
      TextAnalysis.perplexityBuckets(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    })(
      // Plain NTILE per source over the bigram-LM score — the Spark side
      // computes the same assignment via the counting-sort decomposition
      // (no per-source global sort); matching hashes prove equivalence.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
         |        FROM t, unnest(range(1, len(toks))) AS u(i)),
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM uni),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occ GROUP BY 1),
         |sc AS (SELECT o.doc_id,
         |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / CAST(uc + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |       FROM occ o JOIN bi USING (gram) JOIN uni USING (w1) CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |               CAST(sum(lp) AS BIGINT) AS lm_micro
         |        FROM sc GROUP BY 1),
         |lm AS (SELECT d.doc_id, d.source,
         |              coalesce(n_bigrams, 0) AS n_bigrams, coalesce(lm_micro, 0) AS lm_micro
         |       FROM documents d LEFT JOIN agg USING (doc_id)),
         |qd AS (SELECT *, CASE WHEN n_bigrams = 0 THEN NULL
         |         ELSE CAST(floor(CAST(lm_micro AS DOUBLE) * 1000000.0
         |                         / CAST(n_bigrams AS DOUBLE)) AS BIGINT) END AS q
         |       FROM lm),
         |b AS (SELECT doc_id, source, n_bigrams, lm_micro,
         |        CAST(ntile(3) OVER (PARTITION BY source ORDER BY q DESC NULLS LAST, doc_id) AS INTEGER) AS bucket
         |      FROM qd)
         |SELECT doc_id, source, n_bigrams, lm_micro, bucket,
         |       CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
         |            ELSE 'middle' END AS tier
         |FROM b ORDER BY doc_id""".stripMargin),

    // Hashing-trick document embeddings: md5-bucketed token counts,
    // ±1-signed per (bucket, dim) by a runtime Knuth hash bit — a
    // model-free dense vector per doc in exact integer arithmetic,
    // feeding the ANN/dedup family. One explode + one doc-keyed agg.
    declare("doc_embed_hash")((s, dir) => {
      TextAnalysis.hashedEmbedding(docs(s, dir), outDim = 16)
        .orderBy(col("doc_id"))
    })(
      // Replays the feature-hashing embedding: the same md5 bucket as the
      // classifier oracle, the same Knuth-hash sign bit per (bucket, dim),
      // all-integer sums — the projection matrix reproduces from the data.
      {
        val bucketSql =
          "(list_sum([(CAST(strpos('0123456789abcdef', md5(tok)[i]) AS BIGINT) - 1)" +
            " * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 1048576)"
        val dimCols = (0 until 16).map { i =>
          f"CAST(sum(cnt * (CASE WHEN (((bucket * 16 + $i) * 2654435761) >> 16) & 1 = 1" +
            f" THEN 1 ELSE -1 END)) AS BIGINT) AS p$i%02d"
        }.mkString(",\n|        ")
        val coalesced = (0 until 16).map(i => f"coalesce(p$i%02d, 0) AS p$i%02d").mkString(", ")
        s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
           |occ AS (SELECT doc_id, $bucketSql AS bucket, CAST(count(*) AS BIGINT) AS cnt
           |        FROM t, unnest(toks) AS u(tok) GROUP BY 1, 2),
           |p AS (SELECT doc_id,
           |        $dimCols
           |      FROM occ GROUP BY 1)
           |SELECT d.doc_id, $coalesced
           |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // Misra-Gries heavy hitters over the token stream: the mergeable
    // O(capacity) frequent-items summary that finds hot keys without a
    // full groupBy. The summary's low-frequency survivors depend on
    // merge order, so the declared output is the deterministic
    // contract: exact row/hitter counts plus the guarantee flag (every
    // token with frequency > n/(capacity+1) is in the summary).
    declare("doc_token_hitters")((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      graft.ops.HeavyHitters.heavyHitterCheck(toks, "tok", capacity = 30)
    })(
      // n_rows and n_hitters are exact; the guarantee flag follows the
      // sketch convention (holds whenever the MG implementation is right)
      s"""WITH t AS (SELECT unnest($ToksSql) AS tok FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM t),
         |h AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1)
         |SELECT n.n_rows,
         |       CAST((SELECT count(*) FROM h WHERE c > (SELECT n_rows // 31 FROM n)) AS BIGINT) AS n_hitters,
         |       CAST(1 AS BIGINT) AS all_found
         |FROM n""".stripMargin),

    // DSIR-style importance selection (Xie et al.): keep the 100 corpus
    // docs a target-domain bigram LM prefers most over the corpus's own
    // LM. The target model (the small curated side) broadcasts; both
    // likelihoods sum over the same gram multiset so the weight is the
    // exact quantized log-ratio; the cut is a TakeOrdered.
    declare("corpus_dsir_select")((s, dir) => {
      val d = docs(s, dir)
      val target = d.filter(col("doc_id") % 100 === 0)
      TextAnalysis.dsirSelect(d, target, topM = 100)
        .orderBy(col("doc_id"))
    })(
      // Replays both bigram LMs (raw = whole corpus, target = the %100
      // subset), LEFT-joined so OOV grams take the add-one floor, then
      // the top-100 by exact quantized log-ratio with id tie-break.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
         |      FROM t, unnest(range(1, len(toks))) AS u(i)),
         |occ AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
         |runi AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |         FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |rv AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS v_size FROM runi),
         |rbi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM g GROUP BY 1),
         |tt AS (SELECT doc_id, toks FROM t WHERE doc_id % 100 = 0),
         |tuni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |         FROM (SELECT unnest(toks) AS w1 FROM tt) GROUP BY 1),
         |tv AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS v_size FROM tuni),
         |tbi AS (SELECT toks[i] || ' ' || toks[i+1] AS gram, CAST(count(*) AS BIGINT) AS bc
         |        FROM tt, unnest(range(1, len(toks))) AS u(i) GROUP BY 1),
         |rsc AS (SELECT o.doc_id, o.cnt,
         |          CAST(floor(ln(CAST(coalesce(bc, 0) + 1 AS DOUBLE)
         |            / CAST(coalesce(uc, 0) + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |        FROM occ o LEFT JOIN rbi USING (gram)
         |        LEFT JOIN runi ON split_part(o.gram, ' ', 1) = runi.w1 CROSS JOIN rv),
         |ragg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |                CAST(sum(cnt * lp) AS BIGINT) AS raw_micro FROM rsc GROUP BY 1),
         |tsc AS (SELECT o.doc_id, o.cnt,
         |          CAST(floor(ln(CAST(coalesce(bc, 0) + 1 AS DOUBLE)
         |            / CAST(coalesce(uc, 0) + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |        FROM occ o LEFT JOIN tbi USING (gram)
         |        LEFT JOIN tuni ON split_part(o.gram, ' ', 1) = tuni.w1 CROSS JOIN tv),
         |tagg AS (SELECT doc_id, CAST(sum(cnt * lp) AS BIGINT) AS tgt_micro FROM tsc GROUP BY 1),
         |j AS (SELECT d.doc_id,
         |        coalesce(n_bigrams, 0) AS n_bigrams,
         |        coalesce(raw_micro, 0) AS raw_micro,
         |        coalesce(tgt_micro, 0) AS tgt_micro,
         |        coalesce(tgt_micro, 0) - coalesce(raw_micro, 0) AS weight
         |      FROM documents d LEFT JOIN ragg USING (doc_id) LEFT JOIN tagg USING (doc_id)),
         |cut AS (SELECT * FROM j ORDER BY weight DESC, doc_id ASC LIMIT 100)
         |SELECT doc_id, n_bigrams, raw_micro, tgt_micro, weight FROM cut
         |ORDER BY doc_id""".stripMargin),

    // Document fingerprinting: md5 content hash of normalized text.
    declare("doc_fingerprint")((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    })(
      s"SELECT doc_id, md5($NormSql) AS fp_md5 FROM documents ORDER BY doc_id"),

    // ---- dedup ----
    // Exact dedup summary: hash-groupBy over the md5 fingerprint.
    declare("doc_exact_dups")((s, dir) => {
      val g = docs(s, dir)
        .select(TextAnalysis.fingerprintMd5(col("text")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      g.agg(
        sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    })(
      s"""WITH g AS (SELECT md5($NormSql) AS h, count(*) AS c FROM documents GROUP BY 1)
         |SELECT CAST(sum(c) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_distinct,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups FROM g""".stripMargin),

    // Exact n-gram Jaccard near-dup pairs (shared-shingle candidate
    // join; shingles in >500 docs are dropped — the hot-key skew guard
    // that keeps the candidate join bounded at scale, mirrored in the
    // oracle SQL).
    declare("doc_ngram_jaccard")((s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .orderBy(col("id_a"), col("id_b"))
    })(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),

    // Duplicate-cluster closure: connected components over the exact
    // n-gram Jaccard pair graph (min-label propagation with pointer
    // jumping — O(log d) bucketed join rounds, no driver row traffic).
    // Pairs only say A~B; keep-one-per-group curation needs the
    // transitive closure, keyed by the component's minimum doc id.
    declare("dedup_clusters")((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs)
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
        .orderBy(col("id"))
    })(
      // Same pair CTEs as doc_ngram_jaccard, then the transitive closure
      // by recursive CTE: min reachable id per node = the component label
      // the distributed min-label propagation converges to.
      s"""WITH RECURSIVE t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
         |SELECT id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY id""".stripMargin),

    // Chunk-level exact dedup (boilerplate removal): a 25-token
    // boilerplate paragraph is planted on every fifth doc, and the
    // operator must keep exactly one corpus-wide occurrence of every
    // repeated chunk and reassemble the survivors in document order.
    // The md5 of the reassembled text pins the whole reconstruction.
    declare("dedup_chunks")((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(lit(ChunkBoilerplate + " "), col("text")))
          .otherwise(col("text")))
      Dedup.chunkDedup(planted, chunkTokens = 25)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    })(
      // Replays the chunking (25-token windows of the normalized token
      // list), first-occurrence selection (min doc_id*2^20+idx per chunk
      // string), and document reassembly — md5 of the rebuilt text pins
      // every surviving byte.
      s"""WITH base AS (SELECT doc_id,
         |                     CASE WHEN doc_id % 5 = 0
         |                          THEN '$ChunkBoilerplate ' || text
         |                          ELSE text END AS text
         |              FROM documents),
         |toks AS (SELECT doc_id, $ToksSql AS t FROM base),
         |chunks AS (SELECT doc_id, u.i AS chunk_idx,
         |                  array_to_string(t[(u.i*25+1):(u.i*25+25)], ' ') AS chunk,
         |                  doc_id*1048576 + u.i AS occ_key
         |           FROM toks, unnest(range((len(t)+24)//25)) AS u(i)),
         |marked AS (SELECT doc_id, chunk_idx, chunk,
         |                  occ_key = min(occ_key) OVER (PARTITION BY chunk) AS kept
         |           FROM chunks)
         |SELECT doc_id,
         |       count(*) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |       md5(coalesce(array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE kept), ' '), '')) AS clean_md5
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ExactSubstr-style duplicated-span fractions (Lee et al. ACL'22):
    // tokens covered by any 8-gram appearing verbatim in another doc,
    // overlapping spans merged before counting — duplication at every
    // alignment, where dedup_chunks only sees fixed chunk boundaries.
    // Position explode → bucketed gram agg → equi-join → per-doc
    // islands window; nothing all-pairs. 47/500 fixture docs carry
    // real cross-doc spans at sf0.01.
    declare("doc_dup_spans")((s, dir) => {
      Dedup.duplicatedSpans(docs(s, dir), n = 8).orderBy(col("doc_id"))
    })(
      // Same span algebra in SQL: every 8-gram position, grams in ≥2
      // docs, per-doc interval union via the identical islands window.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(toks[i+1:i+8], ' ') AS gram
         |      FROM base, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               THEN 1 ELSE 0 END AS ni
         |        FROM p),
         |isl2 AS (SELECT doc_id, pos,
         |           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |         FROM isl),
         |sp AS (SELECT doc_id, island,
         |         CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len
         |       FROM isl2 GROUP BY 1, 2),
         |cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
         |        FROM sp GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |       coalesce(c.dup_tokens, 0) AS dup_tokens,
         |       CAST(floor(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) * 1000000.0
         |                  / CAST(b.n_tokens AS DOUBLE)) AS BIGINT) AS dup_frac_q,
         |       (CAST(floor(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) * 1000000.0
         |                   / CAST(b.n_tokens AS DOUBLE)) AS BIGINT) >= 500000) AS flagged
         |FROM base b LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin),

    // The removal half of ExactSubstr (Lee et al. cut the spans, not
    // just count them): every doc rewritten with its cross-document
    // duplicated 8-gram spans dropped — islands join back per doc and
    // drive an indexed HOF filter over the token array (narrow map, no
    // UDF). The md5 hash-match proves the rewrite byte-for-byte.
    declare("doc_dup_scrub")((s, dir) => {
      Dedup.scrubDuplicatedSpans(docs(s, dir), n = 8)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    })(
      // Same islands, then the indexed-lambda rewrite (DuckDB list_filter
      // indexes are 1-based — hence i-1; Spark's are 0-based).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(toks[i+1:i+8], ' ') AS gram
         |      FROM base, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               THEN 1 ELSE 0 END AS ni
         |        FROM p),
         |isl2 AS (SELECT doc_id, pos,
         |           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |         FROM isl),
         |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
         |       FROM isl2 GROUP BY 1, 2),
         |spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
         |        FROM sp GROUP BY 1),
         |j AS (SELECT b.doc_id, b.n_tokens, b.toks,
         |        coalesce(spl.spans, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS spans
         |      FROM base b LEFT JOIN spl USING (doc_id)),
         |k AS (SELECT doc_id, n_tokens,
         |        list_filter(toks, (x, i) ->
         |          len(list_filter(spans, sp -> i-1 >= sp.s AND i-1 <= sp.e)) = 0) AS kept
         |      FROM j)
         |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS kept_tokens,
         |       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
         |FROM k ORDER BY doc_id""".stripMargin),

    // MinHash-LSH near-dup pairs (banded bucket join, then the EXACT
    // Jaccard filter on candidates). The oracle brute-forces the same
    // threshold set with a shared-shingle join: every qualifying pair at
    // sf0.01 sits at jaccard ≥ 0.9, where the 12×2 banding's candidate
    // recall is 1−(1−j²)^12 ≈ 1−2e-9 — and the fixed hash functions make
    // the output deterministic, verified equal to brute force.
    declare("dedup_minhash")((s, dir) => {
      Dedup.minHashNearDups(docs(s, dir), maxJaccardDist = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Brute force over ALL pairs at the exact-Jaccard threshold; the
      // banded MinHash result equals it (see the query comment).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       1.0 - CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard_dist
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE 1.0 - CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) <= 0.6
         |ORDER BY id_a, id_b""".stripMargin),

    // SimHash near-dup pairs (4×16-bit band join + hamming filter). The
    // md5 hash kind makes the 64-bit signature recomputable in SQL, and
    // the band join is pigeonhole-COMPLETE for hamming ≤ 3, so the
    // banded output provably equals the oracle's all-pairs brute force.
    declare("dedup_simhash")((s, dir) => {
      Dedup.simHashNearDups(docs(s, dir), maxHamming = 3, hashKind = "md5")
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Recomputes the md5-kind SimHash signature per document (u64 from
      // the first 16 hex chars of md5(token), ±1 vote per bit, sign pack)
      // and brute-forces hamming ≤ 3 over all pairs — the pigeonhole band
      // join returns exactly this set.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |hv AS (SELECT doc_id,
         |         [list_sum([(CAST(strpos('0123456789abcdef', md5(tk)[i]) AS HUGEINT) - 1) << (4*(16-i)) FOR i IN range(1,17)])
         |          FOR tk IN toks] AS hs
         |       FROM t),
         |sg AS (SELECT doc_id,
         |         list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
         |                   THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END FOR b IN range(64)]) AS s
         |       FROM hv),
         |sig AS (SELECT doc_id,
         |          CAST(CASE WHEN s < 9223372036854775808 THEN s ELSE s - 18446744073709551616 END AS BIGINT) AS sig
         |        FROM sg)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Embedding-cosine near-dups via the SRP band join. The fixture
    // embeddings are near-orthogonal random vectors (max natural cosine
    // ≈ 0.51), so the query plants 20 exact duplicates (vec_id+1000000)
    // — the operator must surface exactly those pairs, and the oracle
    // recomputes them with a brute-force SQL join over the same planted
    // corpus.
    declare("emb_near_dups")((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.embeddingNearDups(e.union(planted), minCosine = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    })(
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin),

    // Semantic decontamination: a synthetic "benchmark" of 15 copied
    // corpus vectors (vec_id<15 at +3000000) must be traced back to its
    // training-set origins by the cross-corpus SRP band join — exact
    // copies collide in every band, and the fixture has no natural
    // cross pair at cos ≥ 0.95 (same corpus as emb_near_dups).
    declare("decontaminate_semantic")((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val benchmark = e.filter(col("vec_id") < 15)
        .withColumn("vec_id", col("vec_id") + lit(3000000L))
      Dedup.crossEmbeddingNearDups(e, benchmark, minCosine = 0.95)
        .orderBy(col("corpus_id"), col("probe_id"))
    })(
      // Brute-force cross join at the threshold: equals the banded search
      // because exact copies collide in every band and nothing else in
      // the fixture reaches 0.95 across the two sides.
      s"""WITH p AS (SELECT vec_id + 3000000 AS probe_id, embedding FROM embeddings WHERE vec_id < 15)
         |SELECT c.vec_id AS corpus_id, p.probe_id,
         |       (${dotSql("c.embedding", "p.embedding")})
         |         / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) AS cos_sim
         |FROM embeddings c CROSS JOIN p
         |WHERE (${dotSql("c.embedding", "p.embedding")})
         |        / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) >= 0.95
         |ORDER BY corpus_id, probe_id""".stripMargin),

    // SemDeDup-style semantic dedup: k-means clusters scope the pair
    // search; exact copies (vec_id<30 planted at +2000000) are
    // guaranteed intra-cluster (identical input ⇒ identical argmin), so
    // the cluster-scoped search must equal the brute-force oracle: the
    // fixture has no natural pair at cos ≥ 0.99, and every planted pair
    // sits at cos = 1.
    declare("emb_semdedup")((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + lit(2000000L))
      Dedup.semanticNearDups(e.union(planted), nClusters = 8, minCosine = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Brute force over ALL pairs at the cosine threshold: equals the
      // cluster-scoped search because exact copies always share a cluster
      // and nothing else reaches 0.99 (see the query comment).
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id < 30)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin),

    // Winnowing partial-overlap pairs. The Karp-Rabin k-gram hashes are
    // Σ c_j·B^(k−1−j) mod 2^64 over UTF-16 units (ASCII fixture ⇒ code
    // points), and the fingerprint SET only needs window minima BY VALUE
    // (the rightmost-tie rule picks an index, not a value), so the whole
    // operator is recomputable in SQL with HUGEINT modular arithmetic.
    declare("dedup_winnow")((s, dir) => {
      Dedup.winnowOverlapPairs(docs(s, dir), minShared = 3, maxFingerprintDf = 20L)
        .orderBy(col("id_a"), col("id_b"))
    })(
      // Recomputes the winnowing fingerprint sets (Karp-Rabin k=8 hashes
      // as Σ c_j·B^(7−j) mod 2^64 via HUGEINT, signed back to Java-long
      // order, w=4 window minima by value, distinct) and the full
      // shared-fingerprint pair pipeline including the df ≤ 20 hot-key cap.
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '') AS c, length(text) AS n FROM documents),
         |h AS (SELECT doc_id, n,
         |    [CAST(CASE WHEN hv < 9223372036854775808 THEN hv ELSE hv - 18446744073709551616 END AS BIGINT)
         |     FOR hv IN [(${WinnowTermsSql}) % 18446744073709551616::HUGEINT FOR i IN range(1, n - 8 + 2)]] AS hashes
         |  FROM t WHERE n >= 8),
         |fp AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(hashes) <= 4 THEN [list_min(hashes)]
         |         ELSE [list_min(hashes[s:s+3]) FOR s IN range(1, len(hashes) - 4 + 2)] END)) AS fp
         |  FROM h),
         |rare AS (SELECT fp FROM fp GROUP BY 1 HAVING count(*) <= 20),
         |pr AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM pr a JOIN pr b USING (fp) WHERE a.doc_id < b.doc_id
         |GROUP BY 1,2 HAVING count(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Exact dedup keep-lowest-representative: summary of what survives
    // (the groups view is doc_exact_dups; this pins the kept-row side).
    declare("doc_dedup_keep")((s, dir) => {
      val kept = graft.dedup.Dedup.dedupExact(docs(s, dir))
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(length(col("text")).cast("long")).as("chars_kept"))
    })(
      s"""WITH k AS (SELECT doc_id, text,
         |             row_number() OVER (PARTITION BY md5($NormSql) ORDER BY doc_id ASC) AS rn
         |           FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(length(text)) AS BIGINT) AS chars_kept
         |FROM k WHERE rn = 1""".stripMargin),

    // INCREMENTAL dedup: a synthetic "new crawl batch" (every %10==7 doc
    // re-delivered under a new id = planted duplicates; every %10==3 doc
    // with a ' graft-novel' suffix = planted novel content) checked
    // against the PERSISTED corpus hash store — the batch never touches
    // corpus text, only the ~48-byte/doc fingerprint artifact, and the
    // store side is never shuffled (batch hashes broadcast into its
    // scan). The oracle replays the whole construction from the corpus.
    declare("dedup_incremental")((s, dir) => {
      val corpus = docs(s, dir)
      val storeDir = artifactDir("hashstore", dir)
      graft.dedup.Dedup.ensureHashStore(s, corpus, storeDir)
      val redelivered = corpus.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val novel = corpus.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" graft-novel")).as("text"))
      graft.dedup.Dedup.newAgainstStore(s, storeDir, redelivered.unionAll(novel))
        .orderBy(col("doc_id"))
    })(
      // Replays the store (first-owner per content hash) and the planted
      // batch; the suffixed branch re-derives the normalized hash of the
      // modified text exactly as the Spark side's concat.
      s"""WITH st AS (SELECT md5($NormSql) AS h, min(doc_id) AS first_id FROM documents GROUP BY 1),
         |b AS (SELECT doc_id + 5000000 AS doc_id, md5($NormSql) AS h
         |      FROM documents WHERE doc_id % 10 = 7
         |      UNION ALL
         |      SELECT doc_id + 6000000 AS doc_id,
         |             md5(lower(regexp_replace(trim(text || ' graft-novel'), '\\s+', ' ', 'g'))) AS h
         |      FROM documents WHERE doc_id % 10 = 3)
         |SELECT b.doc_id,
         |       CAST(CASE WHEN st.first_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new,
         |       st.first_id AS dup_of
         |FROM b LEFT JOIN st USING (h)
         |ORDER BY doc_id""".stripMargin),

    // Incremental NEAR-dup: a new batch Jaccard-checks itself against
    // the persisted shingle-posting store (exact verdict — no banded
    // recall caveat); postings are never shuffled, the batch broadcasts
    // in and the verdicts broadcast back. Plants appended-edit near
    // dups (%10==4) and wholly novel rows (%10==6) under new ids.
    declare("dedup_incremental_near")((s, dir) => {
      val corpus = docs(s, dir)
      val storeDir = artifactDir("shinglestore", dir)
      graft.dedup.Dedup.ensureShingleStore(s, corpus, storeDir)
      val near = corpus.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(col("text"), lit(" graft near dup probe xq")).as("text"))
      val novel = corpus.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          concat(lit("qx"), col("doc_id"),
            lit(" zz9k wv3j qq7x pp5m vv2r qx"), col("doc_id")).as("text"))
      graft.dedup.Dedup.nearDupsAgainstShingleStore(
          s, storeDir, near.unionAll(novel))
        .orderBy(col("doc_id"))
    })(
      // Incremental near-dup: the oracle rebuilds the shingle postings
      // from the corpus, derives the identical planted batch, and takes
      // exact set Jaccard over shared shingles (md5-key equality on the
      // Spark side ≡ shingle equality here), min-corpus-id verdict.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corp AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |csz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corp GROUP BY 1),
         |batch AS (
         |  SELECT doc_id + 7000000 AS b_id, text || ' graft near dup probe xq' AS btext
         |  FROM documents WHERE doc_id % 10 = 4
         |  UNION ALL
         |  SELECT doc_id + 8000000 AS b_id,
         |         'qx' || doc_id || ' zz9k wv3j qq7x pp5m vv2r qx' || doc_id
         |  FROM documents WHERE doc_id % 10 = 6),
         |bt AS (SELECT b_id, string_split(lower(regexp_replace(trim(btext), '\\s+', ' ', 'g')), ' ') AS toks FROM batch),
         |bsh AS (SELECT b_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM bt WHERE len(toks) >= 3),
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
         |SELECT b.b_id AS doc_id,
         |       CAST(CASE WHEN bj.near_dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       bj.near_dup_of, bj.jd AS jaccard_dist
         |FROM batch b LEFT JOIN bj USING (b_id)
         |ORDER BY doc_id""".stripMargin),

    // Full curation pipeline (language gate → quality gate → exact dedup
    // → near-dup cluster keep-min): every stage is an engine operator,
    // composed in the cost order a 100 TB pipeline wants — narrow
    // per-row gates shrink the corpus before the candidate joins run.
    declare("corpus_curate")((s, dir) => {
      graft.text.Curation.curate(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    })(
      // The whole curation chain re-derived in SQL: the lang/quality gate
      // expressions are verbatim the doc_lang_id / doc_quality oracles
      // (both hash-matched, so the float comparisons agree bit-for-bit),
      // exact dedup is the doc_dedup_keep row_number device, and the
      // near-dup keep-set is the dedup_clusters recursive closure over the
      // gated survivors, keeping each component's minimum id.
      s"""WITH RECURSIVE base AS (SELECT doc_id, text, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |ling AS (SELECT doc_id, text, norm, toks,
         |  $LangScoresSql
         |  FROM base),
         |gated AS (SELECT doc_id, text, norm, toks FROM ling
         |  WHERE (CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |              WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |              WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |              WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |              WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |              ELSE 'zh' END) = 'en'
         |    AND (least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.4 +
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.4 +
         |         (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |                    / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2) >= 0.5),
         |ex AS (SELECT doc_id, text, toks FROM
         |        (SELECT doc_id, text, toks,
         |                row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id ASC) AS rn
         |         FROM gated) WHERE rn = 1),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM ex WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM ex
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         |ORDER BY doc_id""".stripMargin),

    // Deterministic stratified sampling: downsample English to 20%, keep
    // every other stratum whole (the classic rebalancing device).
    // Inclusion is a pure function of md5(doc_id ‖ salt) — replayable
    // under retries and recomputable by the oracle, unlike rand().
    declare("doc_sample_stratified")((s, dir) => {
      val d = docs(s, dir).withColumn("lang_id", TextAnalysis.languageId(col("text")))
      graft.ops.Sampling.stratifiedBernoulli(d, col("lang_id"),
          rates = Map("en" -> 0.2), defaultRate = 1.0, salt = "s1")
        .select(col("doc_id"), col("lang_id"))
        .orderBy(col("doc_id"))
    })(
      // Recomputes the 32-bit md5 deviate (first 8 hex chars, digit-parsed
      // — same device as the simhash signature oracle) and the lang-id
      // CASE, then applies the per-stratum per-myriad thresholds.
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  $LangScoresSql
         |  FROM t),
         |l AS (SELECT doc_id,
         |  $LangCaseSql AS lang_id
         |  FROM s),
         |h AS (SELECT doc_id, lang_id,
         |  list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 's1')[i]) AS BIGINT) - 1)
         |            * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |  FROM l)
         |SELECT doc_id, lang_id FROM h
         |WHERE bucket < (CASE WHEN lang_id = 'en' THEN 2000 ELSE 10000 END)
         |ORDER BY doc_id""".stripMargin),

    // Mixture resampling: re-weight the corpus toward a target source
    // distribution (30/30/40 over three sources; the rest dropped)
    // without upsampling — domain-mixture control, the knob every
    // pretraining data recipe turns. Thresholds are integer per-myriad
    // math from the source histogram (broadcast back; corpus never
    // shuffles), inclusion the usual md5 deviate.
    declare("corpus_mixture")((s, dir) => {
      graft.ops.Sampling.mixtureResample(docs(s, dir), "source",
          Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4), salt = "mx")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    })(
      // Same integer threshold derivation from the source histogram, same
      // md5 deviate. floor() operands stay far below 2^53, so the double
      // floors are exact integer arithmetic in both engines.
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |tm AS (SELECT source, n,
         |         CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 3000 WHEN 'src2' THEN 4000 ELSE 0 END AS t_pm
         |       FROM c),
         |f AS (SELECT min(CAST(floor(n * 10000 / t_pm) AS BIGINT)) AS feasible_total FROM tm WHERE t_pm > 0),
         |th AS (SELECT source, least(10000, CAST(floor(feasible_total * t_pm / n) AS BIGINT)) AS thresh
         |       FROM tm, f WHERE t_pm > 0),
         |h AS (SELECT d.doc_id, d.source, th.thresh,
         |        list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'mx')[i]) AS BIGINT) - 1)
         |                  * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |      FROM documents d JOIN th USING (source))
         |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin),

    // Corpus-trained bigram LM score (perplexity filtering): add-one-
    // smoothed transition probabilities from the corpus's own unigram/
    // bigram counts, each ln quantized to micro-units before summing so
    // the aggregate is an exact integer any engine reproduces.
    declare("doc_lm_score")((s, dir) => {
      // the fixture vocabulary is tiny — take the broadcast-unigram path
      // (the open-vocabulary shuffle form is spec-pinned to match it)
      TextAnalysis.bigramLmScores(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    })(
      // Rebuilds the bigram LM from scratch: unigram/bigram counts over
      // the same token stream, identical smoothing arithmetic, identical
      // per-term ln micro-quantization.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
         |        FROM t, unnest(range(1, len(toks))) AS u(i)),
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM uni),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occ GROUP BY 1),
         |sc AS (SELECT o.doc_id,
         |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / CAST(uc + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |       FROM occ o JOIN bi USING (gram) JOIN uni USING (w1) CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |               CAST(sum(lp) AS BIGINT) AS lm_micro
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(lm_micro, 0) AS lm_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Interpolated KNESER-NEY bigram scoring (Chen & Goodman '98, the
    // KenLM smoothing family) — cross-corpus: model statistics (bigram
    // counts, context totals, continuation-type counts) come from the
    // English slice, every document scores under them. Per-gram
    // log-probs quantize to micro-nats before the per-doc integer sum;
    // the oracle retrains all four model aggregates in SQL and replays
    // the same float64 expression tree, D = 0.75 literal included.
    declare("doc_kn_score")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knBigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    })(
      // RETRAINS the interpolated Kneser-Ney model in SQL: the four model
      // aggregates (bigram counts, context totals c(w1.) with
      // continuation fan-out N1+(w1.), backward types N1+(.w2), and the
      // (N1+(..) + V) continuation floor) over the lang='en' slice, then
      // the SAME float64 expression tree per scored gram — D = 0.75
      // literal, identical division/multiplication shape — quantized to
      // micro-nats before the per-doc integer sums.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |occS AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         GROUP BY 1, 2, 3, 4),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(kn_micro, 0) AS kn_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // SPAN-level KN scoring — quality LOCALIZATION: sliding 32-token
    // windows every 16 score under the same cross-corpus KN model, so
    // boilerplate runs and encoding garbage surface as low-scoring
    // spans inside otherwise-good documents (the CCNet paragraph idea
    // on token windows). One row per (doc, window).
    declare("doc_kn_spans")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScores(d, d.filter(col("lang") === "en"),
          windowTokens = 32, stride = 16)
        .orderBy(col("doc_id"), col("win_idx"))
    })(
      // The doc_kn_score model CTEs with the occurrence side keyed by
      // (doc, window): windows rebuilt with the same stride/len
      // arithmetic, grams from the window slices, same expression tree.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |wins AS (SELECT doc_id, CAST(u.k AS INT) AS win_idx,
         |                list_slice(toks, CAST(u.k * 16 + 1 AS INT),
         |                           CAST(u.k * 16 + 32 AS INT)) AS wt
         |         FROM t, unnest(range(0, (len(toks) - 1) // 16 + 1)) AS u(k)),
         |occS AS (SELECT doc_id, win_idx, wt[i] || ' ' || wt[i+1] AS gram,
         |                wt[i] AS w1, wt[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM wins, unnest(range(1, len(wt))) AS u(i)
         |         GROUP BY 1, 2, 3, 4, 5),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.win_idx, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, win_idx, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1, 2)
         |SELECT w.doc_id, w.win_idx, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(kn_micro, 0) AS kn_micro
         |FROM wins w LEFT JOIN agg USING (doc_id, win_idx)
         |ORDER BY doc_id, win_idx""".stripMargin),

    // SPAN-quality SCRUB — the action the span scores exist for: drop
    // non-overlapping 32-token windows whose per-bigram KN mean falls
    // >1.5 nats below the DOC's own mean (per-doc relative cut — a
    // uniformly-bad doc is left for the doc gate, not emptied here),
    // and reassemble the survivors. The verdict is exact integer
    // cross-multiplication, never a float divide.
    declare("doc_kn_scrub")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScrub(d, d.filter(col("lang") === "en"),
          windowTokens = 32, marginMicro = 1500000L)
        .orderBy(col("doc_id"))
    })(
      // The span machinery at stride = window = 32 plus the keep rule
      // (exact BIGINT cross-multiplication) and the ordered-window
      // reassembly; spans MATERIALIZED so the model CTEs evaluate once.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |wins AS (SELECT doc_id, CAST(u.k AS INT) AS win_idx,
         |                list_slice(toks, CAST(u.k * 32 + 1 AS INT),
         |                           CAST(u.k * 32 + 32 AS INT)) AS wt
         |         FROM t, unnest(range(0, (len(toks) - 1) // 32 + 1)) AS u(k)),
         |occS AS (SELECT doc_id, win_idx, wt[i] || ' ' || wt[i+1] AS gram,
         |                wt[i] AS w1, wt[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM wins, unnest(range(1, len(wt))) AS u(i)
         |         GROUP BY 1, 2, 3, 4, 5),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.win_idx, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, win_idx, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1, 2),
         |spans AS MATERIALIZED (
         |  SELECT w.doc_id, w.win_idx, w.wt,
         |         coalesce(n_bigrams, 0) AS n_bigrams,
         |         coalesce(kn_micro, 0) AS kn_micro
         |  FROM wins w LEFT JOIN agg USING (doc_id, win_idx)),
         |tot AS (SELECT doc_id, CAST(sum(n_bigrams) AS BIGINT) AS sum_n,
         |               CAST(sum(kn_micro) AS BIGINT) AS sum_kn
         |        FROM spans GROUP BY 1),
         |k AS (SELECT s.doc_id, s.win_idx, s.wt,
         |             (s.n_bigrams = 0 OR
         |              s.kn_micro * t2.sum_n >=
         |                (t2.sum_kn - 1500000 * t2.sum_n) * s.n_bigrams) AS keep
         |      FROM spans s JOIN tot t2 USING (doc_id)),
         |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |             array_to_string(
         |               flatten(list(wt ORDER BY win_idx) FILTER (WHERE keep)),
         |               ' ') AS text_scrubbed
         |      FROM k GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows,
         |       coalesce(n_kept, 0) AS n_kept,
         |       coalesce(text_scrubbed, '') AS text_scrubbed
         |FROM documents d LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin),

    // TRIGRAM interpolated Kneser-Ney — the full order-N recursion of
    // the KenLM family: raw counts at the top, continuation TYPE
    // counts at the middle level, the add-one-floored continuation
    // distribution at the bottom, with the proper two-stage backoff
    // cascade for unseen contexts. Six model aggregates off the
    // English slice; the oracle retrains all six and replays the
    // nested float64 CASE tree.
    declare("doc_kn3_score")((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knTrigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    })(
      // RETRAINS the trigram KN model in SQL — six aggregates (raw
      // trigram counts + (w1w2) context totals, the three type-count
      // tables off the DISTINCT trigram set, the bigram continuation
      // bottom) and the same nested CASE cascade, D = 0.75 literal,
      // identical division/multiplication shape at every level.
      {
        val pcont =
          "CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)"
        val p2 =
          s"""CASE WHEN midC.n2ctx IS NULL THEN $pcont
             |  ELSE greatest(CAST(coalesce(midT.nmid, 0) AS DOUBLE) - 0.75, 0.0) / CAST(midC.n2ctx AS DOUBLE)
             |       + ((0.75 * CAST(midC.nfmid AS DOUBLE)) / CAST(midC.n2ctx AS DOUBLE))
             |         * ($pcont) END""".stripMargin
        s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
           |occS AS (SELECT doc_id,
           |                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
           |                toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
           |                toks[i] || ' ' || toks[i+1] AS g12,
           |                toks[i+1] || ' ' || toks[i+2] AS g23,
           |                CAST(count(*) AS BIGINT) AS cnt
           |         FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
           |         GROUP BY 1, 2, 3, 4, 5, 6, 7),
           |occT AS (SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
           |                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
           |                toks[i] || ' ' || toks[i+1] AS g12,
           |                toks[i+1] || ' ' || toks[i+2] AS g23
           |         FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
           |         WHERE lang = 'en'),
           |tri AS (SELECT gram, CAST(count(*) AS BIGINT) AS tc FROM occT GROUP BY 1),
           |ctx2 AS (SELECT g12, CAST(count(*) AS BIGINT) AS c12,
           |                CAST(count(DISTINCT w3) AS BIGINT) AS nf12
           |         FROM occT GROUP BY 1),
           |ty3 AS (SELECT DISTINCT w1, w2, w3, g23 FROM occT),
           |midT AS (SELECT g23, CAST(count(DISTINCT w1) AS BIGINT) AS nmid
           |         FROM ty3 GROUP BY 1),
           |midC AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2ctx,
           |                CAST(count(DISTINCT w3) AS BIGINT) AS nfmid
           |         FROM ty3 GROUP BY 1),
           |occ2 AS (SELECT toks[i] || ' ' || toks[i+1] AS g2, toks[i+1] AS b2
           |         FROM t, unnest(range(1, len(toks))) AS u(i)
           |         WHERE lang = 'en'),
           |nbw AS (SELECT b2 AS w3, CAST(count(*) AS BIGINT) AS nb
           |        FROM (SELECT DISTINCT g2, b2 FROM occ2) GROUP BY 1),
           |consts AS (SELECT greatest(
           |    (SELECT CAST(count(DISTINCT g2) AS BIGINT) FROM occ2) +
           |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
           |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
           |sc AS (SELECT o.doc_id, o.cnt,
           |         CAST(floor(ln(
           |           CASE WHEN ctx2.c12 IS NULL THEN $p2
           |             ELSE greatest(CAST(coalesce(tri.tc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(ctx2.c12 AS DOUBLE)
           |                  + ((0.75 * CAST(ctx2.nf12 AS DOUBLE)) / CAST(ctx2.c12 AS DOUBLE))
           |                    * ($p2) END) * 1e6) AS BIGINT) AS lp
           |       FROM occS o LEFT JOIN tri USING (gram) LEFT JOIN ctx2 USING (g12)
           |            LEFT JOIN midT USING (g23) LEFT JOIN midC USING (w2)
           |            LEFT JOIN nbw USING (w3) CROSS JOIN consts),
           |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
           |               CAST(sum(cnt * lp) AS BIGINT) AS kn3_micro
           |        FROM sc GROUP BY 1)
           |SELECT d.doc_id, coalesce(n_trigrams, 0) AS n_trigrams,
           |       coalesce(kn3_micro, 0) AS kn3_micro
           |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // Model-based filtering with TRAINED weights: closed-form
    // multinomial Naive-Bayes log-odds per hashed feature bucket, fit
    // on the corpus itself labeled by its lang column (positive class =
    // 'en'), then scored in the fastText feature-hashing shape. The
    // oracle retrains the same closed form in SQL — bucket counts, the
    // same smoothed ln-quantized weights, the same per-doc sums — so
    // every weight is provably derived from the data, not a hash.
    // keep = score > 0 (the NB verdict "more likely en than not").
    declare("doc_classifier_score")((s, dir) => {
      val d = docs(s, dir)
      val w = TextAnalysis.nbBucketWeights(d, col("lang") === "en")
      TextAnalysis.classifierScores(d, w)
        .withColumn("keep", col("score_sum") > 0)
        .orderBy(col("doc_id"))
    })(
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |          (list_sum([(CAST(strpos('0123456789abcdef', md5(tok)[i]) AS BIGINT) - 1)
         |                     * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)])
         |           % 1048576) AS bucket
         |        FROM t, unnest(toks) AS u(tok)),
         |agg AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS pos,
         |               CAST(sum(1 - y) AS BIGINT) AS neg
         |        FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS pos_tot,
         |               CAST(sum(neg) AS BIGINT) AS neg_tot FROM agg),
         |w AS (SELECT bucket,
         |        CAST(floor((ln(CAST(pos + 1 AS DOUBLE) / CAST(pos_tot + 1048576 AS DOUBLE))
         |                  - ln(CAST(neg + 1 AS DOUBLE) / CAST(neg_tot + 1048576 AS DOUBLE))) * 1e6)
         |             AS BIGINT) AS w_micro
         |      FROM agg CROSS JOIN tot),
         |sc AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |              CAST(sum(w.w_micro) AS BIGINT) AS score_sum
         |       FROM occ o JOIN w USING (bucket) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
         |       coalesce(score_sum, 0) AS score_sum,
         |       coalesce(score_sum, 0) > 0 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),

    // In-engine logistic-regression TRAINING (the fastText/DCLM
    // quality-classifier move) as deterministic full-batch GD: rational
    // sigmoid (no libm variance), per-row gradients floored to micro
    // Longs BEFORE the reduction (exact integer sum, any partitioning),
    // truncating-division weight updates. 24 rounds, each ONE narrow
    // scan + one (dim+1)-column partial agg; weights re-enter as plan
    // literals. Model persisted behind the fingerprint sidecar. The
    // lang label is near-noise on this corpus (recorded honestly — the
    // NB query makes the same modest claim); the spec proves zero
    // training error on a separable corpus.
    declare("corpus_lr_train")((s, dir) => {
      val artDir = artifactDir("logreg", dir)
      graft.text.LogReg.ensureModelArtifact(s, docs(s, dir), artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      graft.text.LogReg.modelFromArtifact(s, artDir)
    })(
      // RETRAINS the classifier in SQL: per-token md5 bucket (mod 2^20),
      // per-bucket pos/neg occurrence counts under the lang='en' label,
      // the same add-one-smoothed ln-quantized NB log-odds weights, and
      // the same per-doc score sums — weight table and verdicts must both
      // reproduce from the data for the hash to match.
      // REPLAYS the whole GD run in SQL: data-derived vocab, feature
      // table, 24 unrolled weight layers (integer gradient sums,
      // truncating-division updates), then unpivots the final weights.
      {
        val wsel = (1 to 16).map { j =>
          f"SELECT fidx AS feat_idx, tok AS token, w$j%02d AS weight_micro FROM vocab, w24 WHERE fidx = $j"
        }.mkString("\n|UNION ALL ")
        s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
           |SELECT CAST(0 AS INT) AS feat_idx, '<bias>' AS token, w00 AS weight_micro FROM w24
           |UNION ALL $wsel
           |ORDER BY feat_idx""".stripMargin
      }),

    // Classifier-guided data SELECTION (the DCLM/fastText move: train
    // a quality classifier, keep the top slice by score): top-100 docs
    // by LR score with deterministic (score DESC, id) tie-break — a
    // TakeOrdered cut, never a global sort.
    declare("corpus_lr_select")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("logreg", dir)
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      val feats = graft.text.LogReg.features(d, vocab, col("lang") === "en")
      graft.text.LogReg.scores(feats, w)
        .select(col("doc_id"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(100)
    })(
      // The same chain, scored and cut to the top-100 with the (score
      // DESC, id) tie-break.
      {
        val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
        s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
           |SELECT doc_id,
           |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro
           |FROM (SELECT f.doc_id, $zSum AS z FROM f CROSS JOIN w24) q
           |ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin
      }),

    // Scoring under the trained LR model (via the shared artifact):
    // per-doc rational-sigmoid score, prediction, label, verdict — the
    // measured-accuracy record lives under the hash gate.
    declare("doc_lr_score")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("logreg", dir)
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      // hash-repartition the corpus before the feature pipeline: the
      // heavy narrow compute (16 HOF feature filters per row) then
      // runs across all cores instead of inside the single scan split,
      // and the shuffle materialization keeps the final sort's
      // bound-sampling pass from re-executing the scan
      val feats = graft.text.LogReg.features(
        d.repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        vocab, col("lang") === "en")
      graft.text.LogReg.scores(feats, w)
        .select(col("doc_id"), col("score_micro"),
          col("pred"), (col("y") === 1.0).as("label"),
          (col("pred") === (col("y") === 1.0)).as("correct"))
        .orderBy(col("doc_id"))
    })(
      // The same chain, final layer applied back over the feature table.
      {
        val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
        s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
           |SELECT doc_id,
           |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro,
           |       (z > 0.0) AS pred, (y = 1.0) AS label,
           |       ((z > 0.0) = (y = 1.0)) AS correct
           |FROM (SELECT f.doc_id, f.y, $zSum AS z FROM f CROSS JOIN w24) q
           |ORDER BY doc_id""".stripMargin
      }),

    // Epoch-upsampling mixture: 50/30/20 over three sources within 4
    // epochs — src0 runs 4 full epochs, src1 lands between 2 and 3
    // (deterministic md5-deviate fraction gets the 3rd), src2 between
    // 1 and 2. One row per (doc, epoch); pure integer threshold math.
    declare("corpus_epochs")((s, dir) => {
      graft.ops.Sampling.upsampleToMixture(docs(s, dir), "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          maxEpochs = 4, salt = "ep")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    })(
      // Replays the integer epoch plan (feasible total → per-category
      // base epochs + extra-epoch threshold, all // arithmetic) and
      // expands each doc with unnest(range(epochs)).
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |tm AS (SELECT source, n,
         |         CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 3000 WHEN 'src2' THEN 2000 ELSE 0 END AS t_pm
         |       FROM c),
         |f AS (SELECT min((n * 4 * 10000) // t_pm) AS feasible FROM tm WHERE t_pm > 0),
         |pl AS (SELECT source, n, (feasible * t_pm) // 10000 AS needed
         |       FROM tm, f WHERE t_pm > 0),
         |th AS (SELECT source, needed // n AS base_e,
         |              ((needed % n) * 10000) // n AS extra_pm
         |       FROM pl),
         |h AS (SELECT d.doc_id, d.source,
         |        th.base_e + CASE WHEN
         |          list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'ep')[i]) AS BIGINT) - 1)
         |                    * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 < th.extra_pm
         |          THEN 1 ELSE 0 END AS epochs
         |      FROM documents d JOIN th USING (source))
         |SELECT doc_id, source, CAST(u.e AS BIGINT) AS epoch
         |FROM h, unnest(range(epochs)) AS u(e)
         |WHERE epochs > 0 ORDER BY doc_id, epoch""".stripMargin),

    // Deterministic corpus shuffle: the reproducible training order —
    // md5(id‖salt) range sort, seed-stable under retries and engines.
    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    // top-200 docs by u^(1/w) rank keys, w = token count — the
    // token-budget-proportional sample. One narrow key map + a
    // TakeOrdered cut; micro-quantized ln keys, id tie-break.
    declare("corpus_weighted_sample")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      graft.ops.Sampling.weightedSample(d, m = 200,
          weight = col("n_toks"), salt = "ws")
        .select(col("doc_id"), col("n_toks"), col("es_key"))
    })(
      // Recomputes the 32-bit deviate (digit-parse twin), u = (dev+0.5)/2^32,
      // key = floor(1e6 * (ln(u)/w)) — identical op order — then the
      // top-200 cut with the id tie-break.
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_toks FROM documents),
         |k AS (SELECT doc_id, n_toks,
         |  CAST(floor(1000000.0 * (ln(
         |    (CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 'ws')[i]) AS BIGINT) - 1)
         |                    * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS DOUBLE) + 0.5)
         |    / 4294967296.0) / CAST(n_toks AS DOUBLE))) AS BIGINT) AS es_key
         |  FROM t)
         |SELECT doc_id, n_toks, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin),

    declare("corpus_shuffle")((s, dir) => {
      graft.ops.Sampling.shuffleOrder(docs(s, dir), salt = "sh")
        .select(col("doc_id"), col("shuffle_key"))
    })(
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'sh') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),

    // Corpus report: per-(source, lang) row counts, token volume, and
    // ln-quantized quality sums — the reporting rollup a curation run
    // ships with. One shuffle on the tiny (source, lang) key space.
    declare("corpus_report")((s, dir) => {
      val d = docs(s, dir)
      d.groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          sum(floor(TextAnalysis.qualityScore(col("text")) * 1e6).cast("long")).as("quality_micro"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"), col("lang"))
    })(
      // Quality re-derived per row (verbatim the doc_quality oracle) and
      // ln-quantized BEFORE summing, so the aggregate is an integer sum —
      // order-free, hash-stable.
      s"""WITH t AS (SELECT doc_id, source, lang, n_chars, $ToksSql AS toks FROM documents),
         |q AS (SELECT doc_id, source, lang, n_chars,
         |        CAST(len(toks) AS BIGINT) AS n_tok,
         |        least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.4 +
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.4 +
         |        (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |                   / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |      FROM t)
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(CAST(floor(quality * 1e6) AS BIGINT)) AS BIGINT) AS quality_micro,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Leakage-safe train/val/test split: the split label is a function
    // of the near-dup CLUSTER id (docs outside any cluster group alone),
    // so near-duplicates of a training doc can never leak into eval —
    // the contamination-control op every pretraining corpus needs. The
    // cluster map is a PERSISTED, fingerprint-guarded artifact
    // (Dedup.clusterArtifact): built once per corpus snapshot, every
    // split/report joins against the parquet — the query measures the
    // join, not a per-consumer recompute of the candidate join + CC.
    declare("corpus_split")((s, dir) => {
      val d = docs(s, dir)
      val cc = Dedup.clusterArtifact(d, artifactDir("ivf_docclusters", dir),
        n = 3, minJaccard = 0.3, maxShingleDf = 500L)
      d.join(cc, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split", graft.ops.Sampling.groupedSplit(col("grp"), salt = "sp1"))
        .select(col("doc_id"), col("grp"), col("split"))
        .orderBy(col("doc_id"))
    })(
      // The dedup_clusters closure, left-joined onto the corpus (cluster
      // id for members, own id otherwise), then the same md5 deviate
      // bucketed into cumulative split cuts (8000/9000/10000).
      s"""WITH RECURSIVE t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
         |g AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |h AS (SELECT doc_id, grp,
         |  list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(grp AS VARCHAR) || 'sp1')[i]) AS BIGINT) - 1)
         |            * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |  FROM g)
         |SELECT doc_id, grp,
         |       CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // Sequence packing into 256-token context windows: docs hash into 8
    // independent parts (pure function of the id), each packed by a
    // greedy in-id-order scan — embarrassingly parallel, and the oracle
    // replays every bin assignment with a per-part recursive recurrence.
    declare("seq_pack")((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packGreedy(d, budget = 256L, nParts = 8)
        .orderBy(col("doc_id"))
    })(
      // Replays the two-level packing exactly: the same md5 deviate mod 8
      // assigns parts, and a per-part recursive recurrence walks docs in
      // id order carrying (bin_idx, fill) — the greedy rule verbatim.
      SeqPackOracleSql),

    // Per-source document cap (C4/RefinedWeb per-domain cap): keep the
    // first 40 docs by id of every source. Naive window-rank form; the
    // TopKWindowRewrite (setupSession) plans it as the bounded row_topk
    // aggregate — plan-audited — while the result must still equal the
    // DuckDB window-form oracle exactly.
    declare("corpus_source_cap")((s, dir) => {
      graft.ops.Sampling.capPerGroup(docs(s, dir), col("source"), col("doc_id"), cap = 40)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy(col("source"), col("rk"))
    })(
      // The window form IS the spec; Spark executes the rewritten
      // bounded-aggregate plan and must reproduce it exactly.
      // (row_number: INT in Spark, BIGINT in DuckDB — cast.)
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 40
        |ORDER BY source, rk""".stripMargin),

    // Token-budget mix: best-quality-first selection per source until a
    // cumulative token quota is spent — the budgeted variant of the
    // row cap above (a mix recipe speaks in tokens, not rows). The
    // first row of a group always survives even if it alone overshoots.
    declare("corpus_token_budget")((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.tokenBudgetPerGroup(d, col("source"),
          Seq(col("q").desc, col("doc_id").asc), col("n_tokens"), budget = 600L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    })(
      // Replays the quality expression (same op order as doc_quality),
      // then the per-source best-first running token total; a row
      // survives iff the budget was not exhausted BEFORE it.
      s"""WITH t AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(toks) AS DOUBLE) AS n_tok,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |        CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS stop
         |      FROM t),
         |q AS (SELECT doc_id, source, n_tokens,
         |        least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |        (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |      FROM s),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < 600 ORDER BY doc_id""".stripMargin),

    // Packed-sequence MATERIALIZATION: the trainer-facing output of
    // seq_pack — each (part, bin) emits its docs' text concatenated in
    // id order. The oracle replays the greedy recurrence AND the
    // ordered string_agg, so the whole pack→emit path is hash-pinned.
    declare("seq_pack_text")((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.ops.Packing.packGreedy(
        d.select("doc_id", "n_tokens"), budget = 256L, nParts = 8)
      graft.ops.Packing.packText(packed, d, sep = "\n")
        .select(col("part"), col("bin_idx"), col("n_docs"),
          md5(col("packed_text")).as("packed_md5"))
        .orderBy(col("part"), col("bin_idx"))
    })(
      // Replays the seq_pack recurrence, then the ordered concatenation:
      // md5 of string_agg(text, '\n' ORDER BY doc_id) per (part, bin)
      // must equal Spark's array_sort-struct reassembly byte-for-byte.
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text,
         |         CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) AS BIGINT) - 1)
         |                        * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 8 AS INTEGER) AS part,
         |         CAST(len($ToksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |d AS (SELECT doc_id, part, n_tokens,
         |             CAST(row_number() OVER (PARTITION BY part ORDER BY doc_id) AS INTEGER) AS rn
         |      FROM base),
         |pack(part, rn, doc_id, bin_idx, fill) AS (
         |  SELECT part, rn, doc_id, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.part, d.rn, d.doc_id,
         |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.bin_idx ELSE p.bin_idx + 1 END,
         |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.fill + d.n_tokens ELSE d.n_tokens END
         |  FROM pack p JOIN d ON d.part = p.part AND d.rn = p.rn + 1)
         |SELECT p.part, p.bin_idx, CAST(count(*) AS BIGINT) AS n_docs,
         |       md5(string_agg(b.text, chr(10) ORDER BY b.doc_id)) AS packed_md5
         |FROM pack p JOIN base b USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
