package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VectorRecord
import graft.dedup.Dedup
import graft.io.Envelope
import graft.ops.{VectorCrud, VectorSearch, VectorStore}
import graft.text.TextAnalysis

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 registers a `queries` entry;
  * SQL-expressible ones also register a DuckDB `oracleSql` entry with
  * IDENTICAL column names and deterministic ordering. Float policy:
  * distances are computed in float64 with strictly left-to-right
  * accumulation on both sides (Spark `aggregate` fold ≡ left-associative
  * SQL `+` chain), so hashes match bit-for-bit.
  */
object SparkEntry {

  /** One-time session setup shared by the Bench and Verify mains:
    * library optimizer rules are switched on HERE, not inside query
    * thunks, so every query is planned under identical session state
    * regardless of execution order or `SPARK_GRAFT_BENCH_ONLY` subsets
    * (a thunk that mutated `experimental.extraOptimizations` made later
    * queries' plans depend on which queries ran before them). */
  def setupSession(s: SparkSession): Unit = {
    org.apache.spark.sql.graft.TopKWindowRewrite.enable(s)
  }

  /** Embedding dimensionality of the driver fixtures
    * (embeddings.parquet under /root/testdata, FIXTURES.md §B1). */
  val EmbDim = 64

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** HNSW build params for the declared queries: `parts` DERIVED from
    * the corpus row count ([[graft.index.Hnsw.autoParts]]) instead of
    * hardcoded, so a 100× corpus automatically gets smaller shards
    * that stay under the scan split size (the probe-time part-count
    * check would otherwise fail loudly). The count is a parquet
    * metadata-only job. At the driver fixtures' sizes autoParts floors
    * at 4 — the engine's historical value, so layouts and hashes are
    * unchanged. */
  private def hnswParams(e: DataFrame): graft.index.Hnsw.Params =
    graft.index.Hnsw.Params(m = 8, efConstruction = 64,
      parts = graft.index.Hnsw.autoParts(e.count(), EmbDim, m = 8))

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Fixture rows for the byte-level tokenizer queries: punctuation,
    * case, accents, typographic dashes/quotes, currency, CJK, emoji —
    * everything the char-level normalized-alphanumeric path drops.
    * Shared verbatim with the oracle via [[extDocsSqlCte]]. (No
    * U+000B: the one byte where Java's and RE2's `\s` differ.) */
  private val ExtDocRows: Seq[(Long, String)] = Seq(
    9000001L -> "Héllo, Wörld! It's naïve — café résumé.",
    9000002L -> "Price: $42.50 (≈ €39) — 50% off!! #deal @shop",
    9000003L -> "你好 world 🌍 ünïcödé; quotes: \"double\" 'single'",
    // a >24-symbol pretoken (35 bytes incl. the space marker): proves
    // the DERIVED ranked-apply iteration bound converges words a fixed
    // 24-iteration bound could silently under-merge
    9000004L -> "Long: supercalifragilisticexpialidocious 123456789012345678901234567890 end.")

  /** The documents table extended with [[ExtDocRows]] — the corpus the
    * byte-level queries run on. */
  private def extDocs(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    docs(s, dir).select(col("doc_id"), col("text"))
      .unionAll(ExtDocRows.toDF("doc_id", "text"))
  }

  /** SQL twin of [[extDocs]]. */
  private def extDocsSqlCte: String =
    "SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES " +
      ExtDocRows.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
      }.mkString(",") + ") AS v(doc_id, text)"

  /** Some fixture generations store `ts` as parquet TIMESTAMP(NANOS)
    * (which Spark 4 refuses by default — the nanosAsLong shim reads it
    * as a long), others as plain TIMESTAMP(MICROS) (which arrives as
    * TIMESTAMP_NTZ). Normalize either to a session-tz TIMESTAMP so
    * every downstream query sees one type. DuckDB reads both as the
    * same naive µs timestamp (ns truncate ≡ the integer division). */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixEventTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** ts normalization (ns-long → µs timestamp; NTZ → session-tz
    * timestamp, an identity instant under the pinned UTC session),
    * shared by the batch reader, the streaming replay, and ScaleProbe
    * so the conversion can never diverge. */
  private[graft] def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** TPC-H-style star-schema table (ms timestamps — no nanos shim
    * needed, unlike `events`). */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Left-associative squared-L2 sum over explicit 1-based SQL array
    * indexes — bit-identical to Distances.l2Sq's fold. */
  private def l2SqSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * (CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** Left-associative dot product over explicit 1-based SQL indexes —
    * bit-identical to Distances.dot's fold. */
  private def dotSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** The knn_mmr oracle: the greedy MMR selection unrolled into one
    * argmax CTE per pick. `cand`/`sims` materialize ONCE (20 rows /
    * 380 sim pairs); every later layer is a NOT-IN/IN probe over 1-row
    * pick CTEs — all MATERIALIZED so DuckDB's multi-consumer CTE
    * inlining cannot re-evaluate the chain combinatorially. Weights are
    * the literals 0.7/0.3 on BOTH engines (never λ and 1−λ: decimal
    * folding of 1.0−0.7 is exact while float64 is not). */
  private def mmrOracleSql(k: Int, shortlist: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |         (${dotSql("e.embedding", "q.qe")})
         |           / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS rel
         |  FROM embeddings e CROSS JOIN q
         |  ORDER BY rel DESC, vec_id ASC LIMIT $shortlist)""".stripMargin,
      s"""sims AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         (${dotSql("a.embedding", "b.embedding")})
         |           / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS s
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id)""".stripMargin,
      """p1 AS MATERIALIZED (
        |  SELECT 1 AS rank, vec_id, rel, 0.7*rel - 0.3*0.0 AS mmr_score
        |  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      val sel = (1 until i).map(j => s"SELECT vec_id FROM p$j").mkString(" UNION ALL ")
      parts += s"u$i AS MATERIALIZED (SELECT vec_id FROM ($sel))"
      parts +=
        s"""m$i AS MATERIALIZED (
           |  SELECT c.vec_id, c.rel, max(s.s) AS ms
           |  FROM cand c JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM u$i)
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM u$i)
           |  GROUP BY c.vec_id, c.rel)""".stripMargin
      parts +=
        s"""p$i AS MATERIALIZED (
           |  SELECT $i AS rank, vec_id, rel, 0.7*rel - 0.3*ms AS mmr_score
           |  FROM m$i ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)""".stripMargin
    }
    val union = (1 to k).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |${parts.mkString(",\n")}
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel, mmr_score
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** Binary-signature CTEs shared by the knn_hamming_* oracles:
    * per-dimension MIDRANGE thresholds (order-independent min/max —
    * bit-identical to [[graft.index.Binary.fitThresholds]] under any
    * partitioning), the bit_or signature build, and the query row's
    * signature. The sign bit is special-cased: DuckDB's checked `<<`
    * overflows at shift 63, so bit 64 is the BIGINT min literal. */
  private def hammingSigCtes: String =
    s"""thr AS MATERIALIZED (
       |  SELECT u.i AS i,
       |    (CAST(min(e.embedding[u.i]) AS DOUBLE) + CAST(max(e.embedding[u.i]) AS DOUBLE)) / 2.0 AS t
       |  FROM embeddings e, unnest(range(1, ${EmbDim + 1})) AS u(i) GROUP BY u.i),
       |sigs AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    bit_or(CASE WHEN CAST(e.embedding[t.i] AS DOUBLE) > t.t
       |           THEN (CASE WHEN t.i - 1 = 63 THEN (-9223372036854775807 - 1)
       |                 ELSE (CAST(1 AS BIGINT) << (t.i - 1)) END)
       |           ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM embeddings e, thr t GROUP BY e.vec_id),
       |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)""".stripMargin

  /** Each query's signature ranking replayed relationally over the
    * shared signature CTEs — shared verbatim by the API batch
    * (knn_hamming_batch) and its one-statement SQL route
    * (sql_hamming_batch): the equivalence proof. */
  private def hammingBatchOracleSql: String =
    s"""WITH $hammingSigCtes,
       |qb AS (SELECT vec_id AS query_id, sig AS qsig FROM sigs WHERE vec_id < 3),
       |d AS (SELECT qb.query_id, s.vec_id,
       |        CAST(bit_count(xor(s.sig, qb.qsig)) AS INTEGER) AS hamming
       |      FROM sigs s CROSS JOIN qb),
       |r AS (SELECT query_id, vec_id, hamming,
       |        row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
       |      FROM d)
       |SELECT query_id, vec_id, hamming FROM r WHERE rn <= 10
       |ORDER BY query_id, hamming, vec_id""".stripMargin

  /** Exact per-query brute force over corpus ∪ planted — shared
    * verbatim by the pruned API batch (knn_ivf_batch) and its
    * one-statement SQL route (sql_ivf_batch). */
  private def knnIvfBatchOracleSql: String =
    s"""WITH p AS (SELECT e.vec_id * 100 + r.i + 4900000 AS vec_id, e.embedding
       |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id < 3),
       |c AS (SELECT vec_id, embedding FROM embeddings
       |      UNION ALL SELECT vec_id, embedding FROM p),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |d AS (SELECT q.query_id, c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
       |      FROM c CROSS JOIN q),
       |r AS (SELECT query_id, vec_id, dist,
       |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
       |      FROM d)
       |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  /** DuckDB normalization/tokenization identical to
    * TextAnalysis.normalizeText / tokens (note the 'g' flag — DuckDB
    * regexp_replace is first-match-only by default). */
  private val NormSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
  private val ToksSql = s"string_split($NormSql, ' ')"

  /** Oracle CTE chain replaying [[graft.text.LogReg]]'s full-batch GD:
    * the data-derived top-`vocabK` vocabulary, the (bias + relative
    * frequency) feature table, then `iters` unrolled weight layers —
    * each one gradient aggregate (per-row contributions floored to
    * micro-Longs BEFORE the sum, so the reduction is exact integer
    * arithmetic) and one truncating-division update (DuckDB `//` and
    * Scala Long `/` both round toward zero). z accumulates strictly
    * left-to-right in ascending feature order on both engines; the
    * rational sigmoid is pure +,×,/,abs — no libm variance. Layers
    * and the feature table are MATERIALIZED (multi-referenced CTE
    * discipline). Ends with `w<iters>` in scope. */
  private def lrOracleCtes(
      iters: Int, vocabK: Int, labelLang: String,
      lrNum: Long, lrDen: Long): String = {
    val dim = vocabK + 1
    val xs = (0 until dim).map(j => f"x$j%02d")
    val ws = (0 until dim).map(j => f"w$j%02d")
    val gs = (0 until dim).map(j => f"g$j%02d")
    val featExprs = (1 to vocabK).map { j =>
      s"(10.0 * CAST(coalesce(sum(CASE WHEN c.fidx = $j THEN c.cnt END), 0) AS DOUBLE))" +
        s" / CAST(max(len(t.toks)) AS DOUBLE) AS ${xs(j)}"
    }.mkString(",\n|     ")
    val zSum = (0 until dim).map(j => s"(${ws(j)} / 1000000.0) * ${xs(j)}").mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |       FROM t, unnest(toks) AS u(tok) GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS fidx
       |  FROM vc ORDER BY c DESC, tok LIMIT $vocabK),
       |cnts AS (SELECT dt.doc_id, v.fidx, CAST(count(*) AS BIGINT) AS cnt
       |         FROM (SELECT doc_id, unnest(toks) AS tok FROM t) dt
       |         JOIN vocab v USING (tok) GROUP BY 1, 2),
       |f AS MATERIALIZED (
       |  SELECT t.doc_id,
       |     CASE WHEN max(t.lang) = '$labelLang' THEN 1.0 ELSE 0.0 END AS y,
       |     1.0 AS x00,
       |     $featExprs
       |  FROM t LEFT JOIN cnts c USING (doc_id) GROUP BY t.doc_id),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS MATERIALIZED (SELECT ${ws.map(w => s"CAST(0 AS BIGINT) AS $w").mkString(", ")}),
       |""".stripMargin
    for (k <- 1 to iters) {
      val gCols = (0 until dim).map { j =>
        s"CAST(sum(CAST(floor(1000000.0 * ((y - p) * ${xs(j)})) AS BIGINT)) AS BIGINT) AS ${gs(j)}"
      }.mkString(", ")
      val wCols = (0 until dim).map { j =>
        s"${ws(j)} + ($lrNum * ${gs(j)}) // ($lrDen * n) AS ${ws(j)}"
      }.mkString(", ")
      sb ++= s"g$k AS (SELECT $gCols\n"
      sb ++= s"  FROM (SELECT q.*, 0.5 + (0.5 * (z / (1.0 + abs(z)))) AS p\n"
      sb ++= s"        FROM (SELECT f.*, $zSum AS z FROM f CROSS JOIN w${k - 1}) q) r),\n"
      sb ++= s"w$k AS MATERIALIZED (SELECT $wCols FROM w${k - 1} CROSS JOIN g$k CROSS JOIN nn)"
      sb ++= (if (k < iters) ",\n" else "\n")
    }
    sb.toString
  }

  /** Z-order layout-stats oracle: replays ZOrder.layoutStats — the
    * same range-bucket arithmetic, the same unrolled Morton
    * bit-interleave (generated by the same code), the same
    * counting-sort equal-row block assignment over the occupied-cell
    * table, micro-quantized per-block span averages. */
  private lazy val ZOrderOracleSql: String = {
    import graft.ops.ZOrder.{mortonSql, rangeBucketSql}
    def layer(name: String, sk: String): String =
      s"""c_$name AS (SELECT xb, yb, cnt,
         |  coalesce(sum(cnt) OVER (ORDER BY $sk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM cells),
         |g_$name AS (SELECT
         |    CAST(floor(CAST(cum * 64 AS DOUBLE) / CAST(tot.n_rows AS DOUBLE)) AS BIGINT) AS blk,
         |    xb, yb FROM c_$name, tot),
         |s_$name AS (SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(floor((CAST(sum(xs) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_x_span_micro,
         |    CAST(floor((CAST(sum(ys) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_y_span_micro
         |  FROM (SELECT blk, max(xb) - min(xb) AS xs, max(yb) - min(yb) AS ys
         |        FROM g_$name GROUP BY 1))""".stripMargin
    s"""WITH r AS (SELECT CAST(min(user_id) AS DOUBLE) AS x_mn, CAST(max(user_id) AS DOUBLE) AS x_mx,
       |  CAST(min(value) AS DOUBLE) AS y_mn, CAST(max(value) AS DOUBLE) AS y_mx FROM events),
       |cells AS (SELECT xb, yb, count(*) AS cnt FROM (
       |  SELECT ${rangeBucketSql("user_id", "r.x_mn", "r.x_mx", 1024)} AS xb,
       |         ${rangeBucketSql("value", "r.y_mn", "r.y_mx", 1024)} AS yb
       |  FROM events, r) GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS n_rows FROM cells),
       |${layer("by_x", "(xb * 1024 + yb)")},
       |${layer("by_y", "(yb * 1024 + xb)")},
       |${layer("zorder", mortonSql("xb", "yb", 10))}
       |SELECT * FROM (SELECT * FROM s_by_x UNION ALL SELECT * FROM s_by_y
       |  UNION ALL SELECT * FROM s_zorder) ORDER BY layout""".stripMargin
  }

  /** BPE merge-training oracle: N unrolled rounds over the
    * distinct-word table — weighted adjacent-pair counts, the
    * (n desc, a, b) argmax, and the greedy merge application as the
    * IDENTICAL left fold (list_reduce seeded with the first symbol;
    * Spark's `aggregate` seeded the same way), so self-pair runs
    * compress identically on both sides. */
  private lazy val BpeOracleSql: String = {
    val n = 6
    def layer(r: Int): String =
      s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
         |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
         |m$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2
         |        ORDER BY n DESC, a, b LIMIT 1),
         |w$r AS (SELECT cnt, list_reduce(list_transform(syms, s -> [s]),
         |          (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |                      THEN list_append(acc[1:-2], m.a || m.b)
         |                      ELSE list_concat(acc, x) END) AS syms
         |        FROM w${r - 1}, m$r m)""".stripMargin
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to n).map(layer).mkString(",\n")}
       |SELECT * FROM (${(1 to n).map(r =>
           s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, " +
             s"CAST(n AS BIGINT) AS pair_count FROM m$r")
           .mkString(" UNION ALL ")})
       |ORDER BY merge_rank""".stripMargin
  }

  /** BPE tokenize oracle: the same six training rounds but carrying
    * the WORD key through every layer (word → syms is injective, so
    * grouping by word equals grouping by syms), then every document
    * re-tokenized by joining its positional words to the final symbol
    * table and flattening in position order — the md5 byte-checks the
    * full train→apply path. */
  private lazy val BpeTokenizeOracleSql: String = {
    val n = 6
    def layer(r: Int): String =
      s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
         |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
         |m$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2
         |        ORDER BY n DESC, a, b LIMIT 1),
         |w$r AS (SELECT word, list_reduce(list_transform(syms, s -> [s]),
         |          (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |                      THEN list_append(acc[1:-2], m.a || m.b)
         |                      ELSE list_concat(acc, x) END) AS syms, cnt
         |        FROM w${r - 1}, m$r m)""".stripMargin
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to n).map(layer).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$n.syms
       |         FROM pos p JOIN w$n ON w$n.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  /** One unrolled BATCHED-BPE training round for the SQL oracle,
    * shared by the merges and tokenize replays ([[graft.text.Bpe]]
    * `learnRounds`): weighted adjacent-pair counts over the word
    * table, the top-`candCap` ranked candidates, the greedy
    * independent-set pick (keep a candidate iff it shares no symbol —
    * over {lhs, rhs, lhs||rhs} — with an already-kept one) UNROLLED
    * as `batchSize` chained 1-row CTEs (pick k = the lowest-ranked
    * candidate not conflicting with picks 1..k-1 via NOT EXISTS; an
    * empty pick keeps every later pick empty through the same NOT
    * EXISTS, so under-full rounds replay exactly), and the round's
    * combined greedy fold keyed by a chr(1)-separated lookup map —
    * the IDENTICAL single-pass application Spark runs
    * (`applyMergeBatch`), legal because kept rules are pairwise
    * symbol-disjoint. The word chain, candidate tables, and pick
    * accumulators are MATERIALIZED: each w-layer is referenced by two
    * consumers and each pick table by all later picks, so DuckDB's
    * default CTE inlining would re-evaluate the upstream chain
    * exponentially (measured: >10 min inlined, ~5 s materialized).
    * A recursive-CTE formulation of the pick was rejected: DuckDB
    * 1.0 mis-evaluates recursive CTEs consumed under materialized
    * upstreams (count()/ORDER BY over them silently returns empty).
    * `carry` propagates extra word-table columns (the tokenize
    * replay keeps the word key). */
  private def bpeBatchRoundSql(
      r: Int, batchSize: Int, candCap: Int, carry: String): String = {
    val carrySel = if (carry.isEmpty) "" else s"s.$carry, "
    val conflict =
      "(c.a IN (s.a, s.b, s.a || s.b) OR c.b IN (s.a, s.b, s.a || s.b) " +
        "OR c.a || c.b IN (s.a, s.b, s.a || s.b))"
    val picks = (1 to batchSize).map { k =>
      val guard =
        if (k == 1) ""
        else s"\n  WHERE NOT EXISTS (SELECT 1 FROM q${r}_${k - 1} s WHERE $conflict)"
      val acc = (1 to k)
        .map(j => s"SELECT a, b, n, rk FROM x${r}_$j").mkString(" UNION ALL ")
      s"""x${r}_$k AS (SELECT a, b, n, rk FROM r$r c$guard
         |  ORDER BY rk LIMIT 1),
         |q${r}_$k AS MATERIALIZED (SELECT * FROM ($acc))""".stripMargin
    }.mkString(",\n")
    s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
       |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
       |c$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2),
       |r$r AS MATERIALIZED (
       |  SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rk
       |  FROM c$r ORDER BY rk LIMIT $candCap),
       |$picks,
       |s$r AS (SELECT a, b, n, row_number() OVER (ORDER BY rk) AS sel_rank
       |        FROM q${r}_$batchSize),
       |m$r AS (SELECT map(coalesce(list(a || chr(1) || b), []),
       |                   coalesce(list(a || b), [])) AS mp FROM s$r),
       |w$r AS MATERIALIZED (SELECT ${carrySel}s.cnt,
       |          list_reduce(list_transform(s.syms, x -> [x]),
       |            (acc, x) -> CASE
       |              WHEN len(map_extract(m.mp, acc[-1] || chr(1) || x[1])) > 0
       |              THEN list_append(acc[1:-2],
       |                     map_extract(m.mp, acc[-1] || chr(1) || x[1])[1])
       |              ELSE list_concat(acc, x) END) AS syms
       |        FROM w${r - 1} s, m$r m)""".stripMargin
  }

  /** Batched BPE merge-training oracle at a realistic rule count:
    * `rounds` unrolled [[bpeBatchRoundSql]] layers, then the selected
    * rules of every round in round-major order with a global
    * merge_rank — byte-for-byte the `learnMergesBatched` contract
    * (pair_count measured at round start, before any of the round's
    * merges apply). */
  private def bpeBatchOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")},
       |sel AS (${(1 to rounds).map(r =>
           s"SELECT $r AS rnd, sel_rank, a, b, n FROM s$r")
           .mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd, sel_rank) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Batched BPE vocabulary oracle: the same unrolled training rounds,
    * then the FINAL word table's symbols aggregated by weighted count —
    * the vocab.json next to the merges list, byte-checked. */
  private def bpeBatchVocabOracleSql(
      rounds: Int, batchSize: Int, candCap: Int, topK: Int): String =
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")}
       |SELECT sym AS subword, CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |FROM (SELECT unnest(syms) AS sym, cnt FROM w$rounds)
       |GROUP BY 1 ORDER BY n_occurrences DESC, subword LIMIT $topK""".stripMargin

  /** Batched BPE tokenize oracle: the same unrolled training rounds
    * but carrying the WORD key through every layer (word → syms is
    * injective, so grouping by word equals grouping by syms), then
    * every document re-tokenized by joining its positional words to
    * the final symbol table and flattening in position order — the
    * md5 byte-checks the full batched train→apply path at the full
    * rule count. */
  private def bpeBatchTokenizeOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "word")).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$rounds.syms
       |         FROM pos p JOIN w$rounds ON w$rounds.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** External-merge-list BPE tokenize oracle: the shipped fixture's
    * 1.1k rank-ordered rules inlined as a VALUES rank table, then the
    * standard priority loop UNROLLED as exactly `maxIters` steps over
    * the distinct-word table — per step, each word's lowest-ranked
    * present adjacent pair (pair unnest → rank join → arg_min) is
    * merged via the IDENTICAL left fold every BPE oracle here uses
    * (list_reduce seeded with the first symbol); a word with no
    * rankable pair passes through (LEFT JOIN + CASE), so converged
    * words idle through remaining steps exactly as the kernel's
    * early-exit leaves them. Positional rejoin as in the other
    * tokenize oracles. Step count bounded by word LENGTH, never rule
    * count — the scalability claim, stated in SQL. */
  /** One unrolled priority-loop step for the external-merge-list
    * oracles (shared by the char-level and byte-level ranked applies):
    * per word, the lowest-ranked present adjacent pair (pair unnest →
    * rank join → arg_min) merged via the shared left fold; converged
    * words pass through the LEFT JOIN + CASE untouched. */
  private def rankedPriorityLayerSql(k: Int): String =
    s"""b$k AS (SELECT p.word, arg_min(r.lhs, r.rnk) AS a, arg_min(r.rhs, r.rnk) AS b
       |  FROM (SELECT word, syms[i] AS x, syms[i+1] AS y
       |        FROM w${k - 1}, unnest(range(1, len(syms))) AS u(i)) p
       |  JOIN ranks r ON r.lhs = p.x AND r.rhs = p.y
       |  GROUP BY p.word),
       |w$k AS MATERIALIZED (SELECT w.word,
       |  CASE WHEN b.a IS NULL THEN w.syms
       |  ELSE list_reduce(list_transform(w.syms, s -> [s]),
       |    (acc, x) -> CASE WHEN acc[-1] = b.a AND x[1] = b.b
       |                THEN list_append(acc[1:-2], b.a || b.b)
       |                ELSE list_concat(acc, x) END) END AS syms
       |  FROM w${k - 1} w LEFT JOIN b$k b USING (word))""".stripMargin

  /** Rank table VALUES body for an external merge list. */
  private def ranksValuesSql(merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => !a.contains("'") && !b.contains("'") },
      "fixture symbols must be quote-free to inline as SQL literals")
    merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")
  }

  private def bpeExtTokenizeOracleSql(maxIters: Int): String = {
    val values = ranksValuesSql(graft.text.Bpe.externalFixtureMerges())
    s"""WITH ranks AS MATERIALIZED (SELECT * FROM (VALUES $values) AS r(rnk, lhs, rhs)),
       |t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms
       |       FROM (SELECT DISTINCT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0),
       |${(1 to maxIters).map(rankedPriorityLayerSql).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$maxIters.syms
       |         FROM pos p JOIN w$maxIters ON w$maxIters.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  /** The GPT-2 production inference path's oracle: byte-level
    * word-carrying w0 (raw pretokens, byte symbolization), the
    * external BYTE-LEVEL rank table, `maxIters` unrolled priority
    * steps, positional pretoken rejoin. */
  /** Shared prefix of the GPT-2-path oracles: ranks, byte-level
    * word-carrying w0, the unrolled priority layers, and per-doc
    * subword lists (`agg(doc_id, subs)`). */
  private def gpt2SubwordsSqlPrefix(maxIters: Int,
      merges: Seq[(String, String)] =
        graft.text.ByteLevel.externalFixtureMerges(),
      extSql: String = extDocsSqlCte): String = {
    val values = ranksValuesSql(merges)
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    s"""WITH ranks AS MATERIALIZED (SELECT * FROM (VALUES $values) AS r(rnk, lhs, rhs)),
       |${byteLevelW0Sql(carryWord = true, extSql)},
       |${(1 to maxIters).map(rankedPriorityLayerSql).mkString(",\n")},
       |pos AS (SELECT doc_id, u.i AS pos, ptk[u.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ptk FROM ext),
       |             unnest(range(1, len(ptk) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$maxIters.syms
       |         FROM pos p JOIN w$maxIters ON w$maxIters.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)""".stripMargin
  }

  private def bpeGpt2TokenizeOracleSql(maxIters: Int): String =
    s"""${gpt2SubwordsSqlPrefix(maxIters)}
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** The gpt2-path per-document id lists as CTEs ending at
    * `ids(doc_id, tids)` — shared by the token-ids, windowing, and
    * packing oracles. */
  private def gpt2IdsCtes(maxIters: Int,
      extSql: String = extDocsSqlCte): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    s"""${gpt2SubwordsSqlPrefix(maxIters, extSql = extSql)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |ids AS (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v)""".stripMargin
  }

  /** tokenizer.json oracle: merges AND the vocab map both come from
    * the PARSED fixture (the reader under test feeds the oracle too;
    * the parse itself is pinned separately by handcrafted-JSON and
    * byte-compare provenance specs), `<|endoftext|>` appended per
    * document at the file's added-token id. */
  private def hfTokenizerOracleSql(maxIters: Int): String = {
    val m = graft.text.HfTokenizer.externalFixture()
    val values = m.vocabIds.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    val eosId = m.addedId(graft.text.HfTokenizer.EndOfText).get
    s"""${gpt2SubwordsSqlPrefix(maxIters, m.merges)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |ids AS (SELECT a.doc_id,
       |          list_append(list_transform(a.subs, s -> map_extract(v.m, s)[1]),
       |                      $eosId) AS tids
       |        FROM agg a, vmap v)
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN ids i USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  private def bpeTokenIdsOracleSql(maxIters: Int): String =
    s"""${gpt2IdsCtes(maxIters)}
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN ids i USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** Quantized-Lloyd k-means oracle: the full training REPLAYED —
    * micro-unit quantization, `iters` rounds of (integer-distance
    * argmin with (dist, cluster) ties → per-dimension floor-division
    * centroid update, empty clusters keeping their centroid), then the
    * final assignment. Every value is exact int64, so the replay is
    * bit-identical; round CTEs are MATERIALIZED (the chained-
    * derivation discipline — DuckDB inlines multiply-referenced CTEs
    * exponentially otherwise). */
  private def quantKMeansOracleSql(k: Int, iters: Int, dim: Int = EmbDim,
      finalSelect: Option[String => String] = None): String = {
    val qExpr =
      s"[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) FOR i IN range(1, ${dim + 1})]"
    def assignCtes(r: Int, centTbl: String): String =
      s"""a$r AS MATERIALIZED (
         |  SELECT q.vec_id, q.qv, c.cluster,
         |         CAST(list_sum([(q.qv[i] - c.cent[i]) * (q.qv[i] - c.cent[i])
         |                        FOR i IN range(1, ${dim + 1})]) AS BIGINT) AS dist
         |  FROM q, $centTbl c),
         |b$r AS MATERIALIZED (
         |  SELECT vec_id, qv, cluster, dist
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
         |        FROM a$r)
         |  WHERE rk = 1)""".stripMargin
    def updateCtes(r: Int, prevCent: String): String =
      s"""u$r AS (SELECT cluster, u.i AS pos, CAST(sum(qv[u.i]) AS BIGINT) AS s,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM b$r, unnest(range(1, ${dim + 1})) AS u(i) GROUP BY 1, 2),
         |v$r AS (SELECT cluster, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS cent
         |        FROM u$r GROUP BY 1),
         |c$r AS MATERIALIZED (SELECT p.cluster, coalesce(v.cent, p.cent) AS cent
         |        FROM $prevCent p LEFT JOIN v$r v USING (cluster))""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"${assignCtes(r, s"c${r - 1}")},\n${updateCtes(r, s"c${r - 1}")}"
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id, $qExpr AS qv FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, qv AS cent
       |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
       |$rounds,
       |${assignCtes(iters + 1, s"c$iters")}
       |${finalSelect.map(_(s"b${iters + 1}")).getOrElse(
           s"""SELECT vec_id, cluster, dist AS dist_q
              |FROM b${iters + 1} ORDER BY vec_id""".stripMargin)}""".stripMargin
  }

  /** SFT mask oracle: the turn table rebuilt in SQL (normalized
    * tokens in `turnLen`-token windows, surrogate key doc·stride +
    * turn), the gpt2 id machinery replayed over the TURN texts, then
    * the same framing — role-marker ids prepended (specials after the
    * merge block, ids computed Scala-side and inlined), EOS appended,
    * mask 1 exactly on assistant-content ids. Empty turns restore as
    * [] through the LEFT join, mirroring the Spark side. */
  private def sftMaskOracleSql(maxIters: Int, turnLen: Int, keyStride: Long): String = {
    val merges = graft.text.ByteLevel.externalFixtureMerges()
    val eosId = 256 + merges.size
    val uId = eosId + 1
    val aId = eosId + 2
    val turnExt =
      s"""WITH raw AS ($extDocsSqlCte),
         |sft_t AS (SELECT doc_id, $ToksSql AS toks FROM raw),
         |sft_tr AS (SELECT doc_id, CAST(u.k AS BIGINT) AS turn_idx,
         |    array_to_string(list_slice(toks,
         |      CAST(u.k * $turnLen + 1 AS INT),
         |      CAST(u.k * $turnLen + $turnLen AS INT)), ' ') AS text
         |  FROM sft_t, unnest(range(0, (len(toks) - 1) // $turnLen + 1)) AS u(k))
         |SELECT doc_id * $keyStride + turn_idx AS doc_id, text FROM sft_tr""".stripMargin
    s"""${gpt2IdsCtes(maxIters, extSql = turnExt)},
       |pt AS (SELECT e.doc_id // $keyStride AS doc_id,
       |              e.doc_id % $keyStride AS turn_idx,
       |              coalesce(i.tids, CAST([] AS INTEGER[])) AS tids
       |       FROM ext e LEFT JOIN ids i USING (doc_id)),
       |fr AS (SELECT doc_id, turn_idx,
       |         list_prepend(CASE WHEN turn_idx % 2 = 1 THEN $aId ELSE $uId END, tids) AS ti,
       |         list_prepend(0, list_transform(tids,
       |           x -> CASE WHEN turn_idx % 2 = 1 THEN 1 ELSE 0 END)) AS tm
       |       FROM pt),
       |asm AS (SELECT doc_id,
       |          list_append(flatten(list(ti ORDER BY turn_idx)), $eosId) AS ids,
       |          list_append(flatten(list(tm ORDER BY turn_idx)), 0) AS msk
       |        FROM fr GROUP BY 1)
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(msk, x -> x = 1)) AS BIGINT) AS n_loss,
       |       md5(array_to_string(ids, ',')) AS ids_md5,
       |       md5(array_to_string(msk, ',')) AS mask_md5
       |FROM asm ORDER BY doc_id""".stripMargin
  }

  /** Token-window oracle: the replayed gpt2 ids sliced into
    * window/stride chunks with the identical 1-based arithmetic
    * (tail window kept short). */
  private def tokenWindowsOracleSql(maxIters: Int, window: Int, stride: Int): String =
    s"""${gpt2IdsCtes(maxIters)},
       |win AS (SELECT i.doc_id, CAST(u.k AS INT) AS win_idx,
       |          list_slice(i.tids, u.k * $stride + 1, u.k * $stride + $window) AS w
       |        FROM ids i,
       |             unnest(range(0, (len(i.tids) - 1) // $stride + 1)) AS u(k))
       |SELECT doc_id, win_idx, CAST(len(w) AS BIGINT) AS n_win,
       |       md5(array_to_string(w, ',')) AS win_md5
       |FROM win ORDER BY doc_id, win_idx""".stripMargin

  /** Detokenize oracle: the gpt2 ids prefix, then the DECODE direction
    * replayed independently in SQL — each id through the reverse vocab
    * map to its subword, subwords concatenated, every symbol char
    * through the reverse 256-row byte map to its raw byte, bytes
    * hex-assembled and UTF-8-decoded. `lossless` compares the decoded
    * text to the ORIGINAL raw text, so the round-trip itself (not just
    * Spark-vs-oracle agreement) sits under the hash gate. */
  private def detokenizeOracleSql(maxIters: Int): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    s"""${gpt2SubwordsSqlPrefix(maxIters)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m,
       |                map(list(id ORDER BY id), list(sym ORDER BY id)) AS rm
       |         FROM (VALUES $values) AS v(sym, id)),
       |sbmap AS (SELECT map(list(s ORDER BY b), list(b ORDER BY b)) AS m
       |          FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |ids AS (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v),
       |symchars AS (SELECT i.doc_id,
       |               string_split(array_to_string(
       |                 list_transform(i.tids, t -> map_extract(v.rm, t)[1]), ''), '') AS sl
       |             FROM ids i, vmap v),
       |rt AS (SELECT doc_id,
       |         decode(unhex(string_agg(
       |           lpad(to_hex(map_extract(sb.m, sl[u.i])[1]), 2, '0'), ''
       |           ORDER BY u.i))) AS text_rt
       |       FROM symchars, sbmap sb, unnest(range(1, len(sl) + 1)) AS u(i)
       |       GROUP BY doc_id)
       |SELECT e.doc_id, r.text_rt, r.text_rt = e.text AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  /** Unrolled Viterbi-DP unroll bound for the unigram oracles: must be
    * >= the longest corpus word (8 measured across all SFs;
    * spec-asserted). Words shorter than a layer pass through the
    * layer's CASE untouched, so surplus layers are no-ops — the
    * unroll-exactly-N discipline shared with the BPE priority-layer
    * oracles. */
  private val UnigramUnroll = 12

  /** One Viterbi segmentation pass for the unigram oracles (the SQL
    * twin of `UnigramViterbiExpr`) — FULLY RELATIONAL, deliberately
    * free of list_reduce: DuckDB 1.0 evaluates list_reduce lambdas
    * that capture row columns (the backtrack chain) or carry CASE
    * stalls NONDETERMINISTICALLY under parallel execution (observed:
    * the same query alternating row counts 45/46/47 over identical
    * data). Structure: candidate (word, i, k) windows -> LEFT JOIN
    * the previous counts (quantized-integer costs inline, single-char
    * UNK fallback) -> per-(word, i) pivot to fixed c1..c4 slots ->
    * `UnigramUnroll` chained dp layers (each a plain scalar
    * least/CASE over the carried dp list, ties to the smallest j =
    * longest piece via the c4-first CASE order) -> unrolled backtrack
    * columns p1..pU -> pieces sliced and ''-filtered. */
  private val UnigramCountCostSql =
    "-floor(1000000 * ln(CAST(v.n AS DOUBLE) / t.total))"

  private def unigramSegSql(seg: String, vprev: String, maxPieceLen: Int,
      wordsCte: String = "uw", unroll: Int = UnigramUnroll,
      costSql: String = UnigramCountCostSql): String = {
    require(maxPieceLen == 4, "the unrolled 4-slot edge pivot is written for maxPieceLen = 4")
    val U = unroll
    def ak(k: Int) = s"(w.d[-$k].c + e.c$k)"
    val best = s"least(${ak(4)}, ${ak(3)}, ${ak(2)}, ${ak(1)})"
    val dpLayers = (1 to U).map { i =>
      s"""${seg}_d$i AS (
         |  SELECT w.word, w.cnt, w.n,
         |    CASE WHEN w.n < $i THEN w.d
         |      ELSE list_append(w.d, {'c': $best,
         |        'b': CASE WHEN $best = ${ak(4)} THEN ${i - 4}
         |                  WHEN $best = ${ak(3)} THEN ${i - 3}
         |                  WHEN $best = ${ak(2)} THEN ${i - 2}
         |                  ELSE ${i - 1} END})
         |    END AS d
         |  FROM ${seg}_d${i - 1} w LEFT JOIN ${seg}_ep e ON e.word = w.word AND e.i = $i)""".stripMargin
    }.mkString(",\n")
    val btLayers = (1 to U).map { t =>
      s"""${seg}_bt$t AS (
         |  SELECT *, CASE WHEN p${t - 1} = 0 THEN 0 ELSE d[p${t - 1} + 1].b END AS p$t
         |  FROM ${seg}_bt${t - 1})""".stripMargin
    }.mkString(",\n")
    val pieces = (U to 1 by -1)
      .map(t => s"substring(word, p$t + 1, p${t - 1} - p$t)").mkString(", ")
    s"""${seg}_tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM $vprev),
       |${seg}_cand AS (
       |  SELECT w.word, w.cnt, length(w.word) AS n, ui.i AS i, uk.k AS k,
       |    CASE WHEN uk.k <= ui.i
       |      THEN substring(w.word, CAST(ui.i - uk.k + 1 AS INT), CAST(uk.k AS INT)) END AS piece
       |  FROM $wordsCte w,
       |       unnest(range(1, length(w.word) + 1)) AS ui(i),
       |       unnest(range(1, $maxPieceLen + 1)) AS uk(k)),
       |${seg}_edge AS (
       |  SELECT c.word, c.cnt, c.n, c.i, c.k,
       |    CASE WHEN c.k = 1 AND c.piece IS NOT NULL
       |           THEN coalesce(CAST($costSql AS BIGINT),
       |                         CAST(${graft.text.Unigram.UnkCost} AS BIGINT))
       |         ELSE CAST($costSql AS BIGINT) END AS cost
       |  FROM ${seg}_cand c CROSS JOIN ${seg}_tot t LEFT JOIN $vprev v ON v.piece = c.piece),
       |${seg}_ep AS MATERIALIZED (
       |  SELECT word, cnt, n, i,
       |    max(CASE WHEN k = 1 THEN cost END) AS c1,
       |    max(CASE WHEN k = 2 THEN cost END) AS c2,
       |    max(CASE WHEN k = 3 THEN cost END) AS c3,
       |    max(CASE WHEN k = 4 THEN cost END) AS c4
       |  FROM ${seg}_edge GROUP BY 1, 2, 3, 4),
       |${seg}_d0 AS (
       |  SELECT word, cnt, n, [{'c': CAST(0 AS BIGINT), 'b': 0}] AS d
       |  FROM (SELECT DISTINCT word, cnt, n FROM ${seg}_ep)),
       |$dpLayers,
       |${seg}_bt0 AS (SELECT word, cnt, n, d, CAST(n AS INT) AS p0 FROM ${seg}_d$U),
       |$btLayers,
       |$seg AS MATERIALIZED (
       |  SELECT word, cnt,
       |    list_filter([$pieces], x -> x <> '') AS ps
       |  FROM ${seg}_bt$U)""".stripMargin
  }

  /** The unigram trainer's CTE chain: weighted distinct words, seed
    * substring counts (all singles + top-`topMulti` multis), then
    * `rounds` Viterbi-EM rounds (per-word segmentation under the
    * previous counts' quantized costs -> new weighted counts) —
    * `Unigram.trainVocab` replayed. */
  private def unigramTrainCtes(rounds: Int, maxPieceLen: Int, topMulti: Int,
      marker: Boolean = false, coveragePermyriad: Int = 10000): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    val admitUnk = coveragePermyriad == 10000
    val roundCtes = (1 to rounds).map { r =>
      val agg =
        s"""SELECT piece, sum(cnt) AS n
           |  FROM (SELECT cnt, unnest(ps) AS piece FROM useg$r) GROUP BY 1""".stripMargin
      // under coverage, UNK-fallback emissions may not re-enter the
      // vocabulary: keep only pieces of the previous round
      val body = if (admitUnk) agg
        else s"""SELECT piece, n FROM ($agg)
                |  WHERE piece IN (SELECT piece FROM v${r - 1})""".stripMargin
      s"""${unigramSegSql(s"useg$r", s"v${r - 1}", maxPieceLen)},
         |v$r AS MATERIALIZED ($body)""".stripMargin
    }.mkString(",\n")
    // character coverage: singles kept while the mass accumulated
    // BEFORE them is short of coverage (integer permyriad arithmetic,
    // exactly the Scala trainer's walk); multis may not contain an
    // excluded char, filtered BEFORE the top-K cut
    val v0Singles = if (admitUnk)
      "SELECT piece, n FROM usub WHERE length(piece) = 1"
    else
      s"""SELECT piece, n FROM (
         |    SELECT piece, n,
         |      coalesce(sum(n) OVER (ORDER BY n DESC, piece
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         |      sum(n) OVER () AS tot
         |    FROM usub WHERE length(piece) = 1)
         |  WHERE cumb * 10000 < $coveragePermyriad * tot""".stripMargin
    val v0Multis = if (admitUnk)
      s"""SELECT piece, n FROM (SELECT piece, n FROM usub WHERE length(piece) > 1
         |                        ORDER BY n DESC, piece LIMIT $topMulti)""".stripMargin
    else
      s"""SELECT piece, n FROM (
         |    SELECT piece, n FROM usub
         |    WHERE length(piece) > 1 AND piece NOT IN (
         |      SELECT DISTINCT piece FROM (
         |        SELECT piece, unnest(string_split(piece, '')) AS ch
         |        FROM usub WHERE length(piece) > 1)
         |      WHERE ch NOT IN (SELECT piece FROM v0s))
         |    ORDER BY n DESC, piece LIMIT $topMulti)""".stripMargin
    val v0 = if (admitUnk)
      s"""v0 AS MATERIALIZED (
         |  $v0Singles
         |  UNION ALL
         |  $v0Multis)""".stripMargin
    else
      s"""v0s AS MATERIALIZED (
         |  $v0Singles),
         |v0 AS MATERIALIZED (
         |  SELECT piece, n FROM v0s
         |  UNION ALL
         |  $v0Multis)""".stripMargin
    s"""t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |uw AS MATERIALIZED (SELECT ${mk}word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM t)
       |  WHERE len(word) > 0 GROUP BY 1),
       |usub AS MATERIALIZED (SELECT substring(word, CAST(ui.i AS INT), CAST(ul.l AS INT)) AS piece, sum(cnt) AS n
       |  FROM uw, unnest(range(1, length(word) + 1)) AS ui(i),
       |       unnest(range(1, least($maxPieceLen, length(word) - ui.i + 1) + 1)) AS ul(l)
       |  GROUP BY 1),
       |$v0,
       |$roundCtes""".stripMargin
  }

  private def unigramVocabOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)}
       |SELECT piece, CAST(n AS BIGINT) AS n_count
       |FROM v$rounds ORDER BY n_count DESC, piece""".stripMargin

  /** Train + tokenize oracle: the training chain, one more Viterbi
    * pass under the FINAL counts' costs, then the shared positional
    * rejoin. */
  private def unigramTokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)},
       |${unigramSegSql("usegF", s"v$rounds", maxPieceLen)},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, s.ps
       |         FROM pos p JOIN usegF s ON s.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(ps ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_pieces,
       |       md5(array_to_string(a.subs, ' ')) AS pieces_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Train + tokenize + SentencePiece-convention id emission: the
    * tokenize chain, ids 3+rank assigned by row_number over the final
    * vocabulary's (count desc, piece) order, OOV fallback pieces to
    * <unk>=0 via LEFT JOIN + coalesce, </s>=2 appended per document. */
  private def unigramIdsOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)},
       |${unigramSegSql("usegF", s"v$rounds", maxPieceLen)},
       |vid AS (SELECT piece,
       |          CAST(2 + row_number() OVER (ORDER BY n DESC, piece) AS INT) AS id
       |        FROM v$rounds),
       |wpos AS (SELECT s.word, u.i AS i, s.ps[u.i] AS piece
       |         FROM usegF s, unnest(range(1, len(s.ps) + 1)) AS u(i)),
       |wid AS (SELECT w.word, list(coalesce(v.id, 0) ORDER BY w.i) AS ids
       |        FROM wpos w LEFT JOIN vid v ON v.piece = w.piece
       |        GROUP BY w.word),
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w.ids
       |         FROM pos p JOIN wid w ON w.word = p.word),
       |agg AS (SELECT doc_id,
       |          list_append(flatten(list(ids ORDER BY pos)), 2) AS ids
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Shared byte-level preamble CTEs: the extended corpus, the 256-row
    * byte→symbol map (GPT-2 bytes_to_unicode, inlined), pretokens via
    * the RE2-compatible pattern, and the round-0 word table built by
    * UTF-8-encoding each code point IN SQL (the encoding arithmetic
    * stated as a CASE over the code point — no blob support needed)
    * and mapping every byte through the map. */
  /** Byte-fallback oracle — train on `documents`, apply to the
    * EXTENDED corpus (whose fixture rows carry characters the training
    * corpus never saw — exactly when the fallback fires): the final
    * vocabulary's costs segment the extended word table (unroll 36 ≥
    * the 34-char fixture word), pieces found in the vocabulary map to
    * 259+rank, misses (always single OOV characters) expand to their
    * UTF-8 bytes at 3+byte, `</s>`=2 per document. */
  /** The byte-fallback APPLY chain shared by the ids and detokenize
    * oracles: train on `documents` (optionally ▁-marked), segment the
    * EXTENDED corpus's word table under the final costs (unroll 36 ≥
    * the longest marked fixture word), map pieces to 259+rank ids,
    * expand misses to UTF-8 byte ids, flatten per document + `</s>` —
    * ends at `xagg(doc_id, ids)` with `xt` still in scope. */
  private def unigramApplyIdsCtes(rounds: Int, maxPieceLen: Int, topMulti: Int,
      marker: Boolean, applyToExt: Boolean = true,
      coveragePermyriad: Int = 10000): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    val corpus = if (applyToExt)
      s"""ext AS ($extDocsSqlCte),
         |xt AS (SELECT doc_id, $ToksSql AS toks FROM ext)""".stripMargin
    else "xt AS (SELECT doc_id, toks FROM t)"
    s"""${unigramTrainCtes(rounds, maxPieceLen, topMulti, marker, coveragePermyriad)},
       |$corpus,
       |xw AS MATERIALIZED (SELECT ${mk}word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM xt)
       |  WHERE len(word) > 0 GROUP BY 1),
       |${unigramSegSql("usegX", s"v$rounds", maxPieceLen, wordsCte = "xw", unroll = 36)},
       |vid AS (SELECT piece,
       |          CAST(${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces - 1}
       |               + row_number() OVER (ORDER BY n DESC, piece) AS INT) AS id
       |        FROM v$rounds),
       |${unigramIdsChainCtes(marker, graft.text.Unigram.ByteBase, graft.text.Unigram.EosId)}""".stripMargin
  }

  /** The piece→ids mapping chain shared by every id-emitting unigram
    * oracle: positions of `usegX`'s pieces LEFT JOIN `vid` (both
    * defined by the caller), misses byte-expanded at `byteBase`,
    * per-word flatten, positional document rejoin, `eosId` appended —
    * ends at `xagg(doc_id, ids)`. */
  private def unigramIdsChainCtes(marker: Boolean, byteBase: Int, eosId: Int): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    s"""wj AS (SELECT w.word, w.i, w.piece, v.id
       |       FROM (SELECT s.word, u.i AS i, s.ps[u.i] AS piece
       |             FROM usegX s, unnest(range(1, len(s.ps) + 1)) AS u(i)) w
       |       LEFT JOIN vid v ON v.piece = w.piece),
       |fb AS (SELECT word, i,
       |          flatten(list(list_transform($Utf8OfCpSql,
       |                         b -> CAST($byteBase + b AS INT))
       |                       ORDER BY j)) AS ids
       |        FROM (SELECT word, i, u.j AS j,
       |                unicode(substring(piece, CAST(u.j AS INT), 1)) AS cp
       |              FROM wj, unnest(range(1, length(piece) + 1)) AS u(j)
       |              WHERE id IS NULL)
       |        GROUP BY word, i),
       |parts AS (SELECT word, i, [id] AS ids FROM wj WHERE id IS NOT NULL
       |          UNION ALL SELECT word, i, ids FROM fb),
       |wid AS (SELECT word, flatten(list(ids ORDER BY i)) AS ids FROM parts GROUP BY word),
       |xpos AS (SELECT doc_id, u.i AS pos, ${mk}toks[u.i] AS word
       |         FROM xt, unnest(range(1, len(toks) + 1)) AS u(i)),
       |xagg AS (SELECT p.doc_id,
       |           list_append(flatten(list(w.ids ORDER BY p.pos)), $eosId) AS ids
       |         FROM xpos p JOIN wid w ON w.word = p.word
       |         GROUP BY p.doc_id)""".stripMargin
  }

  /** External-model oracle: NO training replay — the fixture model's
    * (piece, quantized cost, id) rows are inlined as VALUES (computed
    * by the same loader the query uses), segmentation runs under
    * `cost = v.n` directly, and the shared ids chain maps pieces to
    * the MODEL's ids with byte fallback at the model's BYTE block. */
  private def unigramExtModelOracleSql(maxPieceLen: Int): String = {
    val model = graft.text.Unigram.externalFixtureModel()
    val rows = model.zipWithIndex
      .filter(_._1.ptype == graft.text.Unigram.SpNormal)
      .map { case (p, i) =>
        s"('${p.piece.replace("'", "''")}',${graft.text.Unigram.modelCostMicros(p.score)},$i)"
      }.mkString(",")
    val eosId = model.indexWhere(p =>
      p.ptype == graft.text.Unigram.SpControl && p.piece == "</s>")
    val byteBase = model.indexWhere(_.ptype == graft.text.Unigram.SpByte)
    s"""WITH mv AS (SELECT * FROM (VALUES $rows) AS m(piece, n, id)),
       |ext AS ($extDocsSqlCte),
       |xt AS (SELECT doc_id, $ToksSql AS toks FROM ext),
       |xw AS MATERIALIZED (SELECT '${graft.text.Unigram.SpMarker}' || word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM xt)
       |  WHERE len(word) > 0 GROUP BY 1),
       |${unigramSegSql("usegX", "mv", maxPieceLen, wordsCte = "xw", unroll = 36,
             costSql = "v.n")},
       |vid AS (SELECT piece, CAST(id AS INT) AS id FROM mv),
       |${unigramIdsChainCtes(marker = true, byteBase = byteBase, eosId = eosId)}
       |SELECT x.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(a.ids,
       |         y -> y >= $byteBase AND y <= ${byteBase + 255})) AS BIGINT) AS n_fallback,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM xt x JOIN xagg a USING (doc_id) ORDER BY x.doc_id""".stripMargin
  }

  /** The (n_tokens, n_fallback, ids_md5) projection shared by the
    * byte-fallback and coverage oracles. */
  private val unigramIdsFinalSelectSql =
    s"""SELECT x.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(a.ids,
       |         y -> y >= ${graft.text.Unigram.ByteBase}
       |          AND y <= ${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces - 1})) AS BIGINT)
       |         AS n_fallback,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM xt x JOIN xagg a USING (doc_id) ORDER BY x.doc_id""".stripMargin

  private def unigramByteFallbackOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = false)}
       |$unigramIdsFinalSelectSql""".stripMargin

  /** Character-coverage oracle — train on `documents` with the
    * coverage cut (rare chars excluded from the seed, kept out through
    * the EM rounds), apply byte-fallback ids to the SAME corpus: the
    * excluded in-corpus tail now byte-falls-back, which is the whole
    * point of the knob. */
  private def unigramCoverageOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int,
      coveragePermyriad: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = false,
             applyToExt = false, coveragePermyriad = coveragePermyriad)}
       |$unigramIdsFinalSelectSql""".stripMargin

  /** Detokenize oracle — the ▁-marked byte-fallback pipeline decoded
    * back: per id, a trained piece contributes its UTF-8 hex, a byte
    * piece its raw byte, control ids nothing; the assembled hex
    * decodes to text, markers become spaces, the dummy-prefix space
    * trims — compared against the pretokenizer's own normalization of
    * the original text. */
  private def unigramDetokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = true)},
       |dec AS (SELECT a.doc_id, u.i AS i, a.ids[u.i] AS id
       |        FROM xagg a, unnest(range(1, len(a.ids) + 1)) AS u(i)),
       |hexp AS (SELECT d.doc_id, d.i,
       |           CASE WHEN d.id < ${graft.text.Unigram.ByteBase} THEN ''
       |                WHEN d.id < ${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces}
       |                  THEN lpad(to_hex(d.id - ${graft.text.Unigram.ByteBase}), 2, '0')
       |                ELSE hex(encode(v.piece)) END AS hx
       |         FROM dec d LEFT JOIN vid v ON v.id = d.id),
       |rt AS (SELECT doc_id,
       |         ltrim(replace(decode(unhex(string_agg(hx, '' ORDER BY i))),
       |                       '${graft.text.Unigram.SpMarker}', ' '), ' ') AS text_rt
       |       FROM hexp GROUP BY doc_id)
       |SELECT e.doc_id, r.text_rt,
       |       r.text_rt = $NormSql AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** Streaming-tokenize oracle: the ▁-marked, coverage-cut,
    * byte-fallback apply over the WHOLE corpus as one batch — equal to
    * the two-micro-batch streaming run because per-batch tokenization
    * is stateless (the property the oracle pins). */
  private def unigramStreamTokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int,
      coveragePermyriad: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = true,
             applyToExt = false, coveragePermyriad = coveragePermyriad)}
       |$unigramIdsFinalSelectSql""".stripMargin

  // ---- WordPiece (BERT-family) oracles -------------------------------

  /** WordPiece round-0 word table: ##-marked symbolization + weighted
    * counts over `documents` (the training corpus). */
  private def wpW0Sql: String =
    s"""wpt AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (
       |  SELECT list_concat([sl[1]], list_transform(sl[2:], c -> '##' || c)) AS syms,
       |         count(*) AS cnt
       |  FROM (SELECT string_split(word, '') AS sl
       |        FROM (SELECT unnest(toks) AS word FROM wpt) WHERE len(word) > 0)
       |  GROUP BY 1)""".stripMargin

  /** One WordPiece training round: weighted adjacent-pair counts,
    * weighted symbol-occurrence counts, the likelihood-score argmax
    * (`n / (n_lhs · n_rhs)` in float64 — exactly the Spark trainer's
    * cast order), ties to (lhs, rhs); then the shared left fold
    * applies the single picked merge (the `##` marker of the right
    * operand drops on merge). An exhausted pair table leaves `s\$r`
    * empty and the LEFT JOIN passes every word through. */
  private def wpRoundSql(r: Int): String =
    s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
       |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
       |c$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2),
       |u$r AS (SELECT sym, sum(cnt) AS ns
       |  FROM (SELECT unnest(s.syms) AS sym, s.cnt AS cnt FROM w${r - 1} s)
       |  GROUP BY 1),
       |s$r AS MATERIALIZED (
       |  SELECT c.a, c.b, c.n,
       |    CAST(c.n AS DOUBLE) / (CAST(ga.ns AS DOUBLE) * CAST(gb.ns AS DOUBLE)) AS score,
       |    CASE WHEN c.b LIKE '##%' THEN c.a || c.b[3:] ELSE c.a || c.b END AS m
       |  FROM c$r c JOIN u$r ga ON ga.sym = c.a JOIN u$r gb ON gb.sym = c.b
       |  ORDER BY score DESC, c.a, c.b LIMIT 1),
       |w$r AS MATERIALIZED (SELECT s.cnt,
       |  CASE WHEN m.a IS NULL THEN s.syms ELSE
       |  list_reduce(list_transform(s.syms, x -> [x]),
       |    (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
       |                THEN list_append(acc[1:-2], m.m)
       |                ELSE list_concat(acc, x) END) END AS syms
       |  FROM w${r - 1} s LEFT JOIN s$r m ON TRUE)""".stripMargin

  /** The WordPiece trainer oracle: `numMerges` unrolled single-merge
    * rounds, then every round's pick with a global merge_rank. */
  private def wpMergesOracleSql(numMerges: Int): String =
    s"""WITH $wpW0Sql,
       |${(1 to numMerges).map(wpRoundSql).mkString(",\n")},
       |sel AS (${(1 to numMerges).map(r =>
           s"SELECT $r AS rnd, a, b, n, score FROM s$r").mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count, score
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Shared prefix of the WordPiece apply oracles: the replayed
    * training rounds, the derived vocabulary (alphabet ∪ merge
    * outputs), the greedy longest-match-first walk UNROLLED as
    * `unroll` piece layers over the EXTENDED corpus's distinct words
    * (per layer: the longest vocab piece at the current position via a
    * length-unnest join + max, candidate lengths bounded by `lmax` —
    * the longest possible piece, every piece being a substring of a
    * training word; an unmatchable position turns the WHOLE word into
    * [UNK], the published is_bad semantics), then the positional
    * rejoin ending at `agg(doc_id, subs)`. */
  private def wpGreedyAggSqlPrefix(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""WITH ext AS ($extDocsSqlCte),
       |$wpW0Sql,
       |${(1 to numMerges).map(wpRoundSql).mkString(",\n")},
       |sel AS (${(1 to numMerges).map(r =>
           s"SELECT $r AS rnd, m FROM s$r").mkString(" UNION ALL ")}),
       |valph AS (SELECT DISTINCT unnest(syms) AS piece FROM w0),
       |vocab AS MATERIALIZED (SELECT DISTINCT piece FROM
       |  (SELECT piece FROM valph UNION ALL SELECT m AS piece FROM sel)),
       |${wpGreedyTailSql(unroll, lmax)}""".stripMargin

  /** The greedy-walk tail shared by the trained-vocab and external-
    * vocab WordPiece oracles: consumes `ext(doc_id, text)` and
    * `vocab(piece)` CTEs, produces `agg(doc_id, subs)` via `unroll`
    * longest-match layers (candidate lengths bounded by `lmax`) and
    * the positional rejoin. */
  private def wpGreedyTailSql(unroll: Int, lmax: Int): String =
    s"""xt AS (SELECT doc_id, $ToksSql AS toks FROM ext),
       |gw AS (SELECT DISTINCT word FROM (SELECT unnest(toks) AS word FROM xt)
       |       WHERE len(word) > 0),
       |g0 AS (SELECT word, length(word) AS len, 1 AS pos,
       |              CAST([] AS VARCHAR[]) AS out, FALSE AS done FROM gw),
       |${(1 to unroll).map { k =>
           s"""bb$k AS (SELECT g.word, max(u.l) AS bl
              |  FROM g${k - 1} g, unnest(range(1, $lmax + 1)) AS u(l), vocab v
              |  WHERE NOT g.done AND g.pos + u.l - 1 <= g.len
              |    AND v.piece = CASE WHEN g.pos = 1
              |      THEN substring(g.word, g.pos, CAST(u.l AS INT))
              |      ELSE '##' || substring(g.word, g.pos, CAST(u.l AS INT)) END
              |  GROUP BY g.word),
              |g$k AS MATERIALIZED (
              |  SELECT g.word, g.len,
              |    CASE WHEN g.done THEN g.pos
              |         ELSE coalesce(g.pos + b.bl, g.len + 1) END AS pos,
              |    CASE WHEN g.done THEN g.out
              |         WHEN b.bl IS NULL THEN ['[UNK]']
              |         ELSE list_append(g.out, CASE WHEN g.pos = 1
              |           THEN substring(g.word, g.pos, CAST(b.bl AS INT))
              |           ELSE '##' || substring(g.word, g.pos, CAST(b.bl AS INT)) END)
              |    END AS out,
              |    CASE WHEN g.done OR b.bl IS NULL
              |           OR g.pos + b.bl > g.len THEN TRUE ELSE FALSE END AS done
              |  FROM g${k - 1} g LEFT JOIN bb$k b USING (word))""".stripMargin
         }.mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM xt, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, g$unroll.out
       |         FROM pos p JOIN g$unroll ON g$unroll.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(out ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)""".stripMargin

  private def wpTokenizeOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpGreedyAggSqlPrefix(numMerges, unroll, lmax)}
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_pieces,
       |       CAST(len(list_filter(a.subs, x -> x = '[UNK]')) AS BIGINT) AS n_unk,
       |       md5(array_to_string(a.subs, ' ')) AS pieces_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** The vocab.txt id table + per-document id lists (`wids(doc_id,
    * tids)`): specials 0–4, alphabet sorted from 5, merge outputs in
    * first-rank order (duplicate outputs keep their first id), a
    * `[CLS] … [SEP]` frame per document. */
  private def wpIdsCtes(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpGreedyAggSqlPrefix(numMerges, unroll, lmax)},
       |vid AS MATERIALIZED (
       |  SELECT piece, CAST(4 + row_number() OVER (ORDER BY grp, ord, piece) AS INT) AS id
       |  FROM (SELECT 0 AS grp, 0 AS ord, piece FROM valph
       |        UNION ALL
       |        SELECT 1 AS grp, min(rnd) AS ord, m AS piece FROM sel
       |        WHERE m NOT IN (SELECT piece FROM valph) GROUP BY m)),
       |vmap AS (SELECT map(list(piece), list(id)) AS m FROM
       |  (SELECT piece, id FROM vid UNION ALL
       |   SELECT * FROM (VALUES ('[PAD]', 0), ('[UNK]', 1), ('[CLS]', 2),
       |                         ('[SEP]', 3), ('[MASK]', 4)) AS sp(piece, id))),
       |wids AS (SELECT a.doc_id,
       |    list_append(list_prepend(2, list_transform(a.subs,
       |      s -> map_extract(v.m, s)[1])), 3) AS tids
       |  FROM agg a, vmap v)""".stripMargin

  private def wpIdsOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpIdsCtes(numMerges, unroll, lmax)}
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(i.tids, x -> x = 1)) AS BIGINT) AS n_unk,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN wids i USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** WordPiece decode oracle: control ids (0,2,3,4 — not [UNK]) drop,
    * ids map back through the reverse vocab, `##` pieces glue to the
    * previous word, everything else opens a space-separated word. The
    * `lossless` flag compares against the normalized source text, so
    * the round-trip itself sits under the hash gate ([UNK] rows are
    * honestly false). */
  private def wpDetokenizeOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpIdsCtes(numMerges, unroll, lmax)},
       |rmap AS (SELECT map(list(id), list(piece)) AS m FROM
       |  (SELECT piece, id FROM vid UNION ALL VALUES ('[UNK]', 1))),
       |dp AS (SELECT i.doc_id,
       |    list_transform(list_filter(i.tids, x -> NOT list_contains([0, 2, 3, 4], x)),
       |                   x -> map_extract(r.m, x)[1]) AS ps
       |  FROM wids i, rmap r),
       |rt AS (SELECT doc_id,
       |    list_reduce(ps, (acc, x) -> acc ||
       |      CASE WHEN x LIKE '##%' THEN x[3:] ELSE ' ' || x END) AS text_rt,
       |    len(list_filter(ps, x -> x = '[UNK]')) AS nu
       |  FROM dp)
       |SELECT e.doc_id, r.text_rt, CAST(r.nu AS BIGINT) AS n_unk,
       |       r.text_rt = $NormSql AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** External-vocab WordPiece oracle: the fixture `vocab.txt` inlined
    * as (piece, id) VALUES (line order = id, the file's own layout —
    * [UNK]/[CLS]/[SEP] at 11–13, NOT this engine's training
    * constants), bracketed control entries excluded from the greedy
    * match set, ids through the file's own map. `lmax` derives from
    * the fixture's longest matchable content. */
  private def wpExtVocabOracleSql(unroll: Int): String = {
    val vocab = graft.text.WordPiece.externalFixtureVocab()
    require(vocab.forall { case (p, _) => !p.contains("'") },
      "fixture pieces must be quote-free to inline as SQL literals")
    val values = vocab.map { case (p, i) => s"('$p',$i)" }.mkString(",")
    val lmax = vocab.map { case (p, _) =>
      val content = if (p.startsWith("##")) p.substring(2) else p
      content.codePointCount(0, content.length)
    }.max
    s"""WITH ext AS ($extDocsSqlCte),
       |vraw AS MATERIALIZED (SELECT * FROM (VALUES $values) AS v(piece, id)),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM vraw
       |  WHERE NOT (piece LIKE '[%' AND piece LIKE '%]')),
       |${wpGreedyTailSql(unroll, lmax)},
       |vmap AS (SELECT map(list(piece), list(id)) AS m FROM vraw),
       |sp AS (SELECT
       |    (SELECT id FROM vraw WHERE piece = '[UNK]') AS unk,
       |    (SELECT id FROM vraw WHERE piece = '[CLS]') AS cls,
       |    (SELECT id FROM vraw WHERE piece = '[SEP]') AS sep),
       |wids AS (SELECT a.doc_id,
       |    list_append(list_prepend(sp.cls, list_transform(a.subs,
       |      s -> map_extract(v.m, s)[1])), sp.sep) AS tids
       |  FROM agg a, vmap v, sp)
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(i.tids, x -> x = sp.unk)) AS BIGINT) AS n_unk,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN wids i USING (doc_id), sp
       |ORDER BY e.doc_id""".stripMargin
  }

  /** UTF-8 encoding of code point `cp` as an INT list, stated as SQL
    * arithmetic (surrogates cannot occur in valid strings; the 4-byte
    * plane covers the rest) — shared by every oracle that re-derives
    * bytes from text in DuckDB. */
  private val Utf8OfCpSql =
    """CASE WHEN cp < 128 THEN [cp]
      |     WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
      |     WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
      |     ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64] END""".stripMargin

  private def byteLevelW0Sql: String = byteLevelW0Sql(carryWord = false)

  private def byteLevelW0Sql(carryWord: Boolean): String =
    byteLevelW0Sql(carryWord, extDocsSqlCte)

  private def byteLevelW0Sql(carryWord: Boolean, extSql: String): String = {
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    val wordSel = if (carryWord) "tok AS word, " else ""
    // UTF-8 encoding of code point cp as an INT list (surrogates cannot
    // occur in valid strings; 4-byte plane covers the rest)
    val utf8 = Utf8OfCpSql
    s"""ext AS ($extSql),
       |bmap AS MATERIALIZED (SELECT map(list(b ORDER BY b), list(s ORDER BY b)) AS m
       |        FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |ptoks AS (SELECT tok, count(*) AS cnt
       |          FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS tok FROM ext)
       |          WHERE len(tok) > 0 GROUP BY tok),
       |cps AS (SELECT tok, cnt, u.i AS i,
       |          unicode(substring(tok, CAST(u.i AS INT), 1)) AS cp
       |        FROM ptoks, unnest(range(1, length(tok) + 1)) AS u(i)),
       |csyms AS (SELECT c.tok, c.cnt, c.i,
       |            list_transform($utf8, b -> map_extract(bm.m, b)[1]) AS cs
       |          FROM cps c, bmap bm),
       |w0 AS MATERIALIZED (SELECT ${wordSel}flatten(list(cs ORDER BY i)) AS syms, max(cnt) AS cnt
       |       FROM csyms GROUP BY tok)""".stripMargin
  }

  /** Byte-level batched-training oracle: the shared byte-level w0, then
    * the SAME unrolled training rounds as the char-level batch oracle
    * ([[bpeBatchRoundSql]] — the machinery is symbolization-agnostic). */
  private def bpeByteLevelOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH $byteLevelW0Sql,
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")},
       |sel AS (${(1 to rounds).map(r =>
           s"SELECT $r AS rnd, sel_rank, a, b, n FROM s$r")
           .mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd, sel_rank) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Byte-level TOKENIZE oracle: the word-carrying byte-level w0, the
    * same unrolled training rounds, then every document re-assembled by
    * joining its positional PRETOKENS to the final symbol table — the
    * full byte-level train→apply path byte-checked (the byte-level twin
    * of [[bpeBatchTokenizeOracleSql]]). */
  private def bpeByteLevelTokenizeOracleSql(rounds: Int, batchSize: Int, candCap: Int): String = {
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    s"""WITH ${byteLevelW0Sql(carryWord = true)},
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "word")).mkString(",\n")},
       |pos AS (SELECT doc_id, u.i AS pos, ptk[u.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ptk FROM ext),
       |             unnest(range(1, len(ptk) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$rounds.syms
       |         FROM pos p JOIN w$rounds ON w$rounds.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  /** Tokenize→pack→emit oracle: the gpt2 ids prefix (ranks, byte-level
    * w0, unrolled priority layers, vocab map), then the seq_pack
    * greedy recurrence replayed per part over the REAL token counts,
    * then each bin's id lists flattened in doc order. The recursive
    * pack CTE coexists with the materialized tokenizer chain here —
    * verified empirically at all three SFs (the r9 recursive-CTE
    * mis-evaluation shape involved aggregation directly over the
    * recursive result under the batched-pick chain; this shape joins
    * the recursion against MATERIALIZED derived tables, which is also
    * load-bearing for cost: without materializing `d`, every one of
    * the ~625 per-part recursion steps re-evaluates the entire
    * 24-layer tokenizer chain — >10 min at sf0.1 vs ~2 s). */
  private def seqPackIdsOracleSql(maxIters: Int, budget: Long, nParts: Int): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    val partExpr =
      s"""CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) AS BIGINT) - 1)
         |               * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % $nParts AS INTEGER)""".stripMargin
    s"""${gpt2SubwordsSqlPrefix(maxIters).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |tid AS MATERIALIZED (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v),
       |base AS MATERIALIZED (SELECT doc_id, tids, CAST(len(tids) AS BIGINT) AS n_tokens,
       |                $partExpr AS part
       |         FROM tid),
       |d AS MATERIALIZED (SELECT doc_id, part, n_tokens,
       |             CAST(row_number() OVER (PARTITION BY part ORDER BY doc_id) AS INTEGER) AS rn
       |      FROM base),
       |pack(part, rn, doc_id, bin_idx, fill) AS (
       |  SELECT part, rn, doc_id, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.part, d.rn, d.doc_id,
       |         CASE WHEN p.fill + d.n_tokens <= $budget THEN p.bin_idx ELSE p.bin_idx + 1 END,
       |         CASE WHEN p.fill + d.n_tokens <= $budget THEN p.fill + d.n_tokens ELSE d.n_tokens END
       |  FROM pack p JOIN d ON d.part = p.part AND d.rn = p.rn + 1)
       |SELECT p.part, p.bin_idx, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(flatten(list(b.tids ORDER BY b.doc_id)), ',')) AS ids_md5
       |FROM pack p JOIN base b USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Byte-level coverage oracle: distinct non-whitespace characters of
    * the extended corpus; byte-level coverage computed per char (every
    * UTF-8 byte finds a row in the byte map), char-level coverage via
    * the normalized token alphabet. */
  private def byteLevelCoverageOracleSql: String = {
    val utf8 = Utf8OfCpSql
    s"""WITH ext AS ($extDocsSqlCte),
       |bmap AS MATERIALIZED (SELECT map(list(b ORDER BY b), list(s ORDER BY b)) AS m
       |        FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |chars AS (SELECT DISTINCT ch
       |          FROM (SELECT unnest(string_split(text, '')) AS ch FROM ext)
       |          WHERE len(ch) > 0 AND NOT regexp_matches(ch, '^\\s$$')),
       |cl AS (SELECT DISTINCT ch FROM (
       |         SELECT unnest(string_split(w, '')) AS ch
       |         FROM (SELECT unnest($ToksSql) AS w FROM ext)
       |         WHERE len(w) > 0)),
       |cov AS (SELECT c.ch,
       |          CASE WHEN len(list_filter(bl, b -> len(map_extract(bm.m, b)) > 0)) = len(bl)
       |               THEN 1 ELSE 0 END AS in_b
       |        FROM (SELECT ch, $utf8 AS bl
       |              FROM (SELECT ch, unicode(ch) AS cp FROM chars)) c, bmap bm)
       |SELECT CAST(count(*) AS BIGINT) AS n_chars,
       |       CAST(sum(in_b) AS BIGINT) AS n_covered_bytelevel,
       |       CAST(sum(CASE WHEN cl.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered_charlevel,
       |       sum(in_b) * 100.0 / count(*) AS bytelevel_pct
       |FROM cov LEFT JOIN cl USING (ch)""".stripMargin
  }

  /** BM25 oracle, shared verbatim by `doc_bm25_top20` (corpus-scan
    * path) and `doc_bm25_indexed` (persisted posting lists): the two
    * queries hashing to the same oracle result IS the proof the index
    * probe equals the scan. */
  private lazy val Bm25OracleSql: String = bm25Sql(20)

  /** Brute-force contains-scan oracle shared by doc_substring_search
    * (trigram-index path) and sql_substring_search (one-statement SQL
    * path): deliberately NOT the index plan — matching hashes prove
    * both index paths equal the definition. */
  private lazy val SubstringOracleSql: String = substringSqlOver("documents")

  /** The same substring oracle over an arbitrary (doc_id, text)
    * relation — `stream_substring_append` passes the base ∪ planted
    * union. */
  private def substringSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $NormSql AS n FROM $src)
       |SELECT doc_id,
       |       CAST((len(n) - len(replace(n, 'merge batch', ''))) // 11 AS BIGINT) AS n_hits
       |FROM t WHERE contains(n, 'merge batch')
       |ORDER BY doc_id""".stripMargin

  /** Brute-force token-slice oracle shared by doc_phrase_search and
    * sql_phrase_search. */
  private lazy val PhraseOracleSql: String = phraseSqlOver("documents")

  /** The same phrase oracle over an arbitrary (doc_id, text) relation —
    * `stream_phrase_append` passes the base ∪ planted union so the
    * delta-aware probe is checked against a from-scratch definition. */
  private def phraseSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id,
       |          CAST(len([i FOR i IN range(1, len(toks))
       |                    IF toks[i] = 'hash' AND toks[i+1] = 'join']) AS BIGINT)
       |            AS n_occurrences
       |        FROM t)
       |SELECT doc_id, n_occurrences FROM occ
       |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin

  /** The batch-probe phrase table shared by doc_phrase_batch and its
    * oracle generator (a phrase with zero matches contributes zero
    * rows on BOTH engines, so presence in the corpus is not required
    * for the twin to hold). */
  private val PhraseBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("merge", "batch"),
    2L -> Seq("vector", "stream"))

  /** Oracle for the batched phrase probe: one token-slice replay per
    * phrase (the [[phraseSqlOver]] arithmetic, parameterized), unioned
    * under its query_id. */
  private def phraseBatchOracleSql(phrases: Seq[(Long, Seq[String])]): String = {
    val legs = phrases.map { case (qid, p) =>
      val cond = p.zipWithIndex
        .map { case (t, i) => s"toks[i+$i] = '$t'" }.mkString(" AND ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, n_occurrences
         |FROM (SELECT doc_id,
         |        CAST(len([i FOR i IN range(1, len(toks) - ${p.size - 2})
         |                  IF $cond]) AS BIGINT) AS n_occurrences
         |      FROM t)
         |WHERE n_occurrences > 0""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** The batch-probe needle table shared by doc_substring_batch and
    * its oracle generator (needles pre-normalized; the match-less one
    * contributes zero rows on both engines). */
  private val SubstringBatchQueries: Seq[(Long, String)] = Seq(
    0L -> "merge batch",
    1L -> "hash join",
    2L -> "zzz qqq xxx")

  /** Oracle for the batched substring probe: one contains/replace-count
    * replay per needle (the [[substringSqlOver]] arithmetic,
    * parameterized), unioned under its query_id. */
  private def substringBatchOracleSql(needles: Seq[(Long, String)]): String = {
    val legs = needles.map { case (qid, n) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |       CAST((len(n) - len(replace(n, '$n', ''))) // ${n.length} AS BIGINT) AS n_hits
         |FROM t WHERE contains(n, '$n')""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $NormSql AS n FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** The batch-probe term-pair table shared by doc_proximity_batch
    * and its oracle generator. */
  private val ProximityBatchQueries: Seq[(Long, (String, String))] = Seq(
    0L -> ("vector", "stream"),
    1L -> ("hash", "join"),
    2L -> ("merge", "window"))

  /** Oracle for the batched proximity probe: one positions-cross-
    * product replay per pair (the [[ProximityOracleSql]] arithmetic,
    * parameterized), unioned under its query_id. */
  private def proximityBatchOracleSql(pairs: Seq[(Long, (String, String))]): String = {
    val legs = pairs.map { case (qid, (ta, tb)) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |       CAST(min(abs(pa.p - pb.p)) AS INTEGER) AS min_dist
         |FROM (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
         |      WHERE toks[i] = '$ta') pa
         |JOIN (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
         |      WHERE toks[i] = '$tb') pb USING (doc_id)
         |GROUP BY doc_id""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** Brute-force positions-cross-product oracle shared by
    * doc_proximity_search (positional-index path) and
    * sql_proximity_search (one-statement SQL path). */
  private lazy val ProximityOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |pa AS (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |       WHERE toks[i] = 'vector'),
       |pb AS (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |       WHERE toks[i] = 'stream')
       |SELECT pa.doc_id, CAST(min(abs(pa.p - pb.p)) AS INTEGER) AS min_dist
       |FROM pa JOIN pb USING (doc_id)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Brute-force all-pairs probe × registry oracle shared by
    * cust_fuzzy_lookup (API blocking path) and sql_fuzzy_lookup
    * (one-statement SQL blocking path): deliberately NOT blocked, so
    * each hash match is a completeness proof of that path's blocking. */
  private lazy val FuzzyLookupOracleSql: String =
    """WITH probes AS (
      |  SELECT c_custkey AS probe_id,
      |         substr(c_name, 1, cpos - 1) || CAST(new_d AS VARCHAR)
      |           || substr(c_name, cpos + 1) AS probe_name
      |  FROM (SELECT c_custkey, c_name,
      |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
      |               (CAST(substr(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
      |                  + 1 + c_custkey % 9) % 10 AS new_d
      |        FROM customer WHERE c_custkey % 97 = 0))
      |SELECT p.probe_id, c.c_custkey,
      |       CAST(levenshtein(p.probe_name, c.c_name) AS INTEGER) AS dist
      |FROM probes p CROSS JOIN customer c
      |WHERE levenshtein(p.probe_name, c.c_name) <= 1
      |ORDER BY probe_id, c_custkey""".stripMargin

  /** The same BM25 oracle at an arbitrary cut — shared with the
    * hybrid-RRF retrieval oracle's candidate stage. */
  private def bm25Sql(topN: Int): String = bm25SqlOver("documents", topN)

  /** The BM25 oracle over an arbitrary (doc_id, text) relation —
    * `stream_bm25_append` passes the base ∪ planted union so the
    * delta-aware probe is scored against a from-scratch definition. */
  private def bm25SqlOver(src: String, topN: Int): String =
    s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id, dl, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |        WHERE tok IN ('spark', 'join', 'merge', 'window')
       |        GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM occ GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |comp AS (SELECT doc_id,
       |           CAST(floor((ln(1.0 + (CAST(n_docs - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
       |             * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
       |                 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
       |             * 1e6) AS BIGINT) AS comp
       |         FROM occ JOIN dft USING (token), st)
       |SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro, CAST(count(*) AS BIGINT) AS n_terms
       |FROM comp GROUP BY 1 ORDER BY bm25_micro DESC, doc_id LIMIT $topN""".stripMargin

  /** The batch-probe query table shared by doc_bm25_batch and its
    * oracle generator, so the fixture cannot drift. */
  private val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join", "merge", "window"),
    1L -> Seq("stream", "hash"),
    2L -> Seq("vector", "merge", "batch"))

  /** Oracle for the batched BM25 probe: ONE shared occ/df/score
    * derivation over the union of every query's terms (df per token is
    * query-independent — the same value each single-query replay
    * computes), then one ranked leg per query, unioned. The scoring
    * arithmetic is textually identical to [[bm25SqlOver]]'s (k1=1.2,
    * b=0.75). */
  private def bm25BatchOracleSql(queries: Seq[(Long, Seq[String])], topN: Int): String = {
    val all = queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val legs = queries.map { case (qid, terms) =>
      val termList = terms.map(t => s"'$t'").mkString(", ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25_micro, n_terms,
         |       CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS INTEGER) AS rank
         |FROM (SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro,
         |             CAST(count(*) AS BIGINT) AS n_terms
         |      FROM comp WHERE token IN ($termList) GROUP BY doc_id)
         |QUALIFY rank <= $topN""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl, $ToksSql AS toks FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, dl, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  WHERE tok IN ($all)
       |  GROUP BY 1, 2, 3),
       |dft AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM occ GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |comp AS MATERIALIZED (SELECT doc_id, token,
       |    CAST(floor((ln(1.0 + (CAST(n_docs - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
       |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
       |      * 1e6) AS BIGINT) AS comp
       |  FROM occ JOIN dft USING (token), st)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, rank""".stripMargin
  }

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

  /** Deterministic synthetic media corpus: 200 REAL minimal files built
    * by [[graft.multimodal.MediaCodecs]] — JPEG and PNG stills
    * (alternating), PCM WAV audio, and MJPEG multi-frame video, with
    * dimensions / channel counts / frame counts derived from the row id.
    * The decode side re-extracts those values by parsing the actual
    * container headers (SOF0 / IHDR+CRC / RIFF chunks / marker walk),
    * and `oracleSql("media_decode_stats")` recomputes the expected
    * values from the same id arithmetic — so the oracle check proves
    * the header WRITER and PARSER agree through real byte formats (an
    * endianness or offset bug on either side breaks the hash match). */
  private def mediaFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    val meta = """{"src":"synthetic"}"""
    s.range(200).map { id =>
      val w = 64 + (id * 13 % 960).toInt
      val h = 64 + (id * 7 % 540).toInt
      (id % 3) match {
        case 0 =>
          val bytes = if ((id / 3) % 2 == 0) MediaCodecs.jpegBytes(w, h)
                      else MediaCodecs.pngBytes(w, h)
          Multimodal.MediaRecord(id, "image", bytes, meta)
        case 1 =>
          val channels = 1 + (id % 2).toInt
          val audioFrames = 100 + (id % 400).toInt
          Multimodal.MediaRecord(id, "audio",
            MediaCodecs.wavBytes(channels, 8000, 16, audioFrames), meta)
        case _ =>
          val videoFrames = 1 + (id % 5).toInt
          Multimodal.MediaRecord(id, "video",
            MediaCodecs.mjpegBytes(w, h, videoFrames), meta)
      }
    }
  }

  /** Deterministic media-features corpus: 100 REAL P6 rasters with
    * id-parameterized arithmetic pixels — ids 80–99 near-duplicate ids
    * 0–19 (same raster with a +1 red bump, the visual-near-dup plant) —
    * and 100 REAL mono 16-bit PCM WAVs with id-parameterized sample
    * values. [[graft.multimodal.Multimodal.extractFeatures]] does actual
    * pixel / PCM arithmetic on these bytes, and the oracle SQL replays
    * the identical integer arithmetic from the id formulas, so the
    * feature path (build → container parse → subsample / frame stats)
    * is hash-pinned end to end. */
  private def mediaFeatFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(200).map { id =>
      if (id < 100) {
        val base = (if (id < 80) id.toLong else id - 80).toInt
        val bump = if (id < 80) 0 else 1
        val w = 8 + base % 23
        val h = 8 + base % 19
        val a = 5 + base % 11
        val bmul = 7 + base % 13
        Multimodal.MediaRecord(id, "image",
          MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((a * x + bmul * y + 3 * base) % 251 + bump,
             (bmul * x + a * y + 5 * base) % 241,
             ((a + bmul) * x + 2 * base) % 239)),
          """{"fmt":"ppm"}""")
      } else {
        val n = 120 + (id % 80).toInt
        val samples = Array.tabulate(n)(i => (((i * 37L + id * 101L) % 4001L) - 2000L).toShort)
        Multimodal.MediaRecord(id, "audio",
          MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
      }
    }
  }

  /** Deterministic audio-fingerprint corpus: 100 REAL mono 16-bit PCM
    * WAVs with id-parameterized sample values — ids 80–99 are ids 0–19
    * at DOUBLE volume (every sample ×2; |s| ≤ 1500 so 16-bit never
    * clips), the loudness-normalized-duplicate plant. The oracle
    * replays the identical integer sample/energy arithmetic from the
    * id formulas. */
  private def audioFpFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(100).map { id =>
      val base = (id % 80L).toInt // ids 80–99 clone ids 0–19
      val vol = if (id < 80) 1 else 2
      val n = 150 + base % 60
      val samples = Array.tabulate(n)(j =>
        (vol * (((j * 37L + base * 101L) % 3001L) - 1500L)).toShort)
      Multimodal.MediaRecord(id, "audio",
        MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
    }
  }

  /** Per-tag scratch directories for queries that must materialize
    * through disk (streaming sinks, envelope files). Each new request
    * for a tag deletes that tag's PREVIOUS directory — safe because by
    * then its contents have been fully consumed (Verify writes the
    * returned DataFrame to parquet and Bench noop-saves it before the
    * query is ever re-invoked) — and a JVM shutdown hook removes
    * whatever is left, so repeated bench warm runs cannot accumulate
    * corpus-sized temp trees. Concurrent use of the SAME tag is the
    * caller's race, not supported; distinct tags never interact. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  sys.addShutdownHook(scratchDirs.values.forEach(graft.io.MutableStore.deleteDir(_)))

  /** Stable per-dataset key for artifacts shared across processes in
    * java.io.tmpdir: md5 of the FULL dir path — String.hashCode can
    * collide across dataset dirs, silently churning (or cross-reading)
    * a store built for different data. Build races between processes
    * are serialized by [[graft.io.Artifact.ensure]]'s dir lock. */
  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** A SQL string literal with quotes escaped — every inline
    * VALUES/IN list built from fixture terms goes through this, so a
    * term carrying a single quote can neither break the statement nor
    * inject into it. */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def scratchDir(tag: String): String = {
    val fresh = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    val prev = scratchDirs.put(tag, fresh)
    if (prev != null) graft.io.MutableStore.deleteDir(prev)
    fresh.toString
  }

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
  private def runStreamToParquet(s: SparkSession, result: DataFrame,
      outputMode: String, overwrite: Boolean, tag: String,
      statePartitions: Int = 8): DataFrame = {
    val scratch = scratchDir(tag)
    val sinkDir = s"$scratch/sink"
    val saveMode = if (overwrite) "overwrite" else "append"
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = result.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", s"$scratch/chk")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode(saveMode).parquet(sinkDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // measured state bound: peak rows-in-state across micro-batches
      // (summed over a query's stateful operators). The bench emits
      // these per round so the claimed watermark bounds are observed
      // numbers, not a one-time spec assertion — unbounded state growth
      // would show up here long before it OOMs a 100 TB deployment.
      val peak = q.recentProgress.iterator
        .map(p => p.stateOperators.map(_.numRowsTotal).sum)
        .foldLeft(0L)(math.max)
      streamStateRows.put(tag, peak)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.parquet(sinkDir)
  }

  /** Peak state-store rows per streaming query tag, recorded by
    * [[runStreamToParquet]] on every completed run — surfaced in the
    * bench detail (`stream_state`). */
  val streamStateRows =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Process-level PQ codebook memo: the driver-side Lloyd's fit runs
    * once per scale factor. Only the session-free Codebooks are cached —
    * a cached DataFrame would stay bound to whichever SparkSession built
    * it and break in a later session of the same JVM; the lazy encode
    * plan is rebuilt per call (it costs nothing until executed). */
  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Pq.Codebooks]()

  private def pqIndex(dir: String, corpus: DataFrame): (graft.index.Pq.Codebooks, DataFrame) = {
    val cb = pqCache.computeIfAbsent(dir,
      _ => graft.index.Pq.fit(corpus, m = 8, k = 64, maxSample = 8192))
    (cb, graft.index.Pq.encode(corpus, cb))
  }

  /** OPQ sibling of [[pqIndex]]: same memo discipline (session-free
    * model cached, lazy encode rebuilt per call). */
  private val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Pq.OpqModel]()

  /** Memoized ANN-selector frontier per sf-dir: the seeded LSH/IVF fits
    * and the MEASURED recall/cost frontier are session-free; the
    * assignment plans rebuild lazily per call ([[graft.index.AnnSelector.fromParts]]). */
  private val selectorCache = new java.util.concurrent.ConcurrentHashMap[String,
    (org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel,
      graft.index.Ivf.Index, Seq[graft.index.AnnSelector.Point])]()

  /** Memoized nprobe recall curve per sf-dir (seeded + deterministic —
    * a BUILD step like the selector frontier). */
  private val curveCache = new java.util.concurrent.ConcurrentHashMap[String,
    Seq[graft.index.Recall.CurvePoint]]()

  private def opqIndex(dir: String, corpus: DataFrame): (graft.index.Pq.OpqModel, DataFrame) = {
    val model = opqCache.computeIfAbsent(dir,
      _ => graft.index.Pq.fitOpq(corpus, m = 8, k = 64, maxSample = 8192))
    (model, graft.index.Pq.encodeOpq(corpus, model))
  }

  /** SQ8 sibling of [[pqIndex]]: same memo discipline. The fit is one
    * exact distributed min/max aggregation — no sample, no seed. */
  private val sqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Sq.SqModel]()

  private def sqIndex(dir: String, corpus: DataFrame): (graft.index.Sq.SqModel, DataFrame) = {
    val model = sqCache.computeIfAbsent(dir, _ => graft.index.Sq.fit(corpus))
    (model, graft.index.Sq.encode(corpus, model))
  }

  /** IVF-SQ8 sibling of [[ivfPqIndex]]: same memo discipline, the SQ8
    * model reused from [[sqIndex]]'s cache. */
  private val ivfSqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.index.Ivf.Index, graft.index.Sq.SqModel, String)]()

  private def ivfSqIndex(dir: String, corpus: DataFrame): (graft.index.Ivf.Index, graft.index.Sq.SqModel, String) =
    ivfSqCache.computeIfAbsent(dir, { _ =>
      val ivf = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val (model, _) = sqIndex(dir, corpus)
      val codesDir = ivfLayoutDir(dir, "ivfsq")
      graft.index.Sq.writeIvfSqCodes(ivf, model, corpus, codesDir)
      (ivf, model, codesDir)
    })

  /** Memoized IVF-PQ composition per sf-dir: the coarse quantizer, the
    * codebooks, and the cluster-partitioned code layout are built once
    * per process (the seeded fits make rebuilds identical), so warm
    * bench runs and repeated queries measure the probe, not the build —
    * same discipline as [[pqIndex]] and the persisted IVF layouts. */
  private val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.index.Ivf.Index, graft.index.Pq.Codebooks, String)]()

  private def ivfPqIndex(dir: String, corpus: DataFrame): (graft.index.Ivf.Index, graft.index.Pq.Codebooks, String) =
    ivfPqCache.computeIfAbsent(dir, { _ =>
      val ivf = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val (cb, _) = pqIndex(dir, corpus)
      val codesDir = ivfLayoutDir(dir, "ivfpq")
      graft.index.Pq.writeIvfPqCodes(ivf, cb, corpus, codesDir)
      (ivf, cb, codesDir)
    })

  /** Deterministic per-(sf-dir, variant) location for the persisted IVF
    * layout: build-once, probe-many — bench iterations and verify reruns
    * reuse the files (the seeded quantizer makes rebuilds identical). */
  private def ivfLayoutDir(sfDir: String, variant: String): String = {
    val key = java.lang.Integer.toHexString(sfDir.hashCode)
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${variant}_$key"
  }

  /** Recursive file copy of a build-once artifact directory into a
    * per-run scratch copy (for queries that MUTATE their store — the
    * streaming legs append to it, so each run works on its own copy
    * while the cached original stays the pristine seed). */
  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    // Files.walk holds open directory handles until closed — leaking one
    // per bench iteration would eventually exhaust the fd limit
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Write a CDC replay's micro-batch input files in ONE overlapped
    * pass instead of N serial single-file write jobs: each batch writes
    * concurrently into its own staging dir (independent jobs — the
    * guide's job-overlap device), then the single part files are moved
    * into `inDir` under ascending names (`b00.parquet`, `b01…`) with
    * strictly ascending modification times (2 s apart), so the file
    * stream source's batch ORDER — the CDC semantics — is preserved
    * whichever of (modTime, path) it sorts by. */
  private def writeBatchInputs(inDir: String, batches: Seq[DataFrame]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val stage = s"${inDir}_stage"
    val futs = batches.zipWithIndex.map { case (df, i) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$i"))
    }
    futs.foreach(Await.result(_, Duration.Inf))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val t0 = System.currentTimeMillis() - 2000L * (batches.size + 1)
    batches.indices.foreach { i =>
      val part = new java.io.File(s"$stage/$i").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no part file staged for batch $i under $stage"))
      val dst = java.nio.file.Paths.get(inDir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L * i))
    }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(stage))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  /** Delete-then-recreate a process-stable scratch dir: repeated
    * invocations (bench iterations) reuse ONE corpus-sized working copy
    * instead of accumulating temp dirs until /tmp fills. The pid in the
    * key keeps concurrent processes (a Verify overlapping a Bench on the
    * same fixtures) from deleting each other's live scratch. */
  private def freshScratchDir(sfDir: String, variant: String): String = {
    val dir = java.nio.file.Paths.get(
      ivfLayoutDir(sfDir, s"${variant}_p${ProcessHandle.current().pid()}"))
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

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

  /** One image-feature dimension of the media-features oracle: dim `d`
    * (0–47, row-major cell-y/cell-x/channel) sampled at the
    * resizePpmNearest floor map sx = cx·w//4, sy = cy·h//4, replaying
    * [[mediaFeatFixture]]'s pixel-channel formulas. References columns
    * media_id/base/bump/w/h/a/bm of the `ic` CTE and the comprehension
    * variable `d`. */
  /** CTE chain replaying [[graft.multimodal.Multimodal.dHash]] from the
    * media-features fixture's id-parameterized pixel formulas: the 9×8
    * nearest-neighbor gray-sum grid, the 64 row-adjacent comparisons,
    * and the HUGEINT→signed-BIGINT bit accumulation (bit 63 is the Long
    * sign bit — the established SimHash-oracle device). Ends with
    * `dh(media_id, w, h, dhash)`. */
  private val DHashCteSql =
    """ip AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
      |       FROM range(100) t(i)),
      |ic AS (SELECT media_id, base, bump,
      |         8 + base % 23 AS w, 8 + base % 19 AS h,
      |         5 + base % 11 AS a, 7 + base % 13 AS bm
      |       FROM ip),
      |gr AS (SELECT media_id, gx, gy,
      |         (a*((gx*w)//9) + bm*((gy*h)//8) + 3*base) % 251 + bump
      |       + (bm*((gx*w)//9) + a*((gy*h)//8) + 5*base) % 241
      |       + ((a+bm)*((gx*w)//9) + 2*base) % 239 AS gray
      |       FROM ic, range(9) xs(gx), range(8) ys(gy)),
      |bt AS (SELECT l.media_id, l.gy*8 + l.gx AS bit
      |       FROM gr l JOIN gr r ON r.media_id = l.media_id
      |         AND r.gy = l.gy AND r.gx = l.gx + 1
      |       WHERE l.gx < 8 AND r.gray > l.gray),
      |hv AS (SELECT media_id, sum(CAST(1 AS HUGEINT) << bit) AS s
      |       FROM bt GROUP BY 1),
      |dh AS (SELECT ic.media_id, ic.w, ic.h,
      |         CAST(CASE WHEN coalesce(hv.s, 0) < 9223372036854775808
      |              THEN coalesce(hv.s, 0)
      |              ELSE coalesce(hv.s, 0) - 18446744073709551616 END
      |           AS BIGINT) AS dhash
      |       FROM ic LEFT JOIN hv USING(media_id))""".stripMargin

  /** CTE chain replaying [[graft.multimodal.Multimodal.audioFingerprint]]
    * from the audio-fingerprint fixture's id-parameterized PCM formulas:
    * per-clip sample list, 65 frame-energy slices (1-based INCLUSIVE
    * `list_slice` = the kernel's `[f·n/65, (f+1)·n/65)` window), 64
    * adjacent comparisons, HUGEINT→signed-BIGINT packing. Ends with
    * `afp(media_id, n, fp)`. */
  private val AudioFpCteSql =
    """ap AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 1 ELSE 2 END AS vol
      |       FROM range(100) t(i)),
      |sm AS (SELECT media_id, 150 + base % 60 AS n,
      |         [ vol * (((j*37 + base*101) % 3001) - 1500)
      |           FOR j IN range(0, 150 + base % 60) ] AS smp
      |       FROM ap),
      |en AS (SELECT media_id, n,
      |         [ list_sum([abs(x) FOR x IN
      |             list_slice(smp, (f*n)//65 + 1, ((f+1)*n)//65)])
      |           FOR f IN range(0, 65) ] AS e
      |       FROM sm),
      |ahv AS (SELECT media_id, n,
      |          list_sum([ CASE WHEN e[f+2] > e[f+1]
      |                     THEN CAST(1 AS HUGEINT) << f
      |                     ELSE CAST(0 AS HUGEINT) END
      |                     FOR f IN range(0, 64) ]) AS s
      |        FROM en),
      |afp AS (SELECT media_id, n,
      |          CAST(CASE WHEN s < 9223372036854775808 THEN s
      |               ELSE s - 18446744073709551616 END AS BIGINT) AS fp
      |        FROM ahv)""".stripMargin

  private val ImgFeatDimSql = {
    val sx = "((((d % 12) // 3) * w) // 4)"
    val sy = "(((d // 12) * h) // 4)"
    s"""CASE d % 3
       |  WHEN 0 THEN (a * $sx + bm * $sy + 3*base) % 251 + bump
       |  WHEN 1 THEN (bm * $sx + a * $sy + 5*base) % 241
       |  ELSE ((a + bm) * $sx + 2*base) % 239 END""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The four per-quarter mean-|sample| band energies of the audio
    * feature oracle (floor division, quarter q = j·4//n), over the `ab`
    * abs-sample list and frame count `n` of the `ast` CTE. */
  private val BandEnergySql = (0 until 4).map { q =>
    s"list_sum([ab[j+1] FOR j IN range(0, n) IF (j*4)//n = $q])" +
      s" // len([j FOR j IN range(0, n) IF (j*4)//n = $q])"
  }.mkString(", ")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val corpus = emb(spark, dir)
    val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.knnExactDf(corpus, query, k = 10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O7 search (exact path): k-NN top-k by squared L2, nearest-first,
    // tie-break by id (SURVEY §2.3; reference vectordb.cpp:120-156).
    "knn_exact_top10" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.knnExactDf(corpus, query, k = 10)
    }),

    // The SQL-user surface: the same kNN as knn_exact_top10, written
    // as ONE spark.sql statement over a registered temp view with the
    // registered codegen l2sq function — a user who only speaks SQL
    // gets the identical bounded-heap plan and bit-identical results.
    "sql_knn_top10" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      emb(s, dir).createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
          |FROM embeddings_v e CROSS JOIN
          |     (SELECT embedding AS qe FROM embeddings_v WHERE vec_id = 0) q
          |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // SQL-surface text analytics: per-language doc counts + summed
    // micro-quantized quality through the registered lang_id and
    // quality_score kernels — one GROUP BY statement a SQL user would
    // actually write over a curation corpus.
    "sql_lang_quality" -> ((s, dir) => {
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
    }),

    // SQL-surface retrieval #1: BM25 over the PERSISTED bucketed
    // postings table as ONE spark.sql statement — the token IN filter
    // bucket-prunes the scan exactly like the API path's isin, the
    // corpus stats ride in as literals from the build sidecar, and the
    // scoring SQL mirrors TextAnalysis.bm25ScoreOcc's expression tree
    // term for term (same literals the DuckDB oracle quotes), so a
    // SQL-first user gets bit-identical rankings. Shares
    // doc_bm25_top20's oracle verbatim — the equivalence proof.
    "sql_bm25_topk" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      s.sql(
        s"""WITH occ AS (SELECT doc_id, dl, token, tf FROM graft_post_$key
           |             WHERE token IN ('spark', 'join', 'merge', 'window')),
           |dft AS (SELECT token, count(1) AS dft FROM occ GROUP BY token),
           |comp AS (SELECT doc_id,
           |    CAST(floor(ln(1.0 + (CAST(${stats.nDocs} - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(${stats.sumDl} AS DOUBLE) / CAST(${stats.nDocs} AS DOUBLE))))))
           |      * 1e6) AS BIGINT) AS comp
           |  FROM occ JOIN dft USING (token))
           |SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro, count(1) AS n_terms
           |FROM comp GROUP BY doc_id
           |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin)
    }),

    // SQL route for the BATCH BM25 probe (r14 VERDICT task 3): ONE
    // statement serving a whole query TABLE — the query terms are an
    // inline VALUES relation, the union of every query's terms
    // bucket-prunes a single posting probe (the same pruned occ scan
    // as sql_bm25_topk), per-token df is computed once (df is
    // query-independent), and per-query ranking is a window over the
    // (query, doc) score rows — bounded by the probed postings, never
    // corpus-sized. A SQL-first user doing N queries pays ONE probe,
    // not N statements. Shares doc_bm25_batch's oracle and fixture.
    "sql_bm25_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      val qRows = Bm25BatchQueries.flatMap { case (qid, ts) =>
        ts.distinct.map(t => s"(CAST($qid AS BIGINT), ${sqlLit(t)})") }.mkString(", ")
      val allTerms = Bm25BatchQueries.flatMap(_._2).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, token)),
           |occ AS (SELECT doc_id, dl, token, tf FROM graft_post_$key
           |        WHERE token IN ($allTerms)),
           |dft AS (SELECT token, count(1) AS dft FROM occ GROUP BY token),
           |comp AS (SELECT q.query_id, occ.doc_id,
           |    CAST(floor(ln(1.0 + (CAST(${stats.nDocs} - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(${stats.sumDl} AS DOUBLE) / CAST(${stats.nDocs} AS DOUBLE))))))
           |      * 1e6) AS BIGINT) AS comp
           |  FROM occ JOIN dft USING (token) JOIN q USING (token)),
           |scored AS (SELECT query_id, doc_id,
           |    CAST(sum(comp) AS BIGINT) AS bm25_micro, count(1) AS n_terms
           |  FROM comp GROUP BY query_id, doc_id),
           |ranked AS (SELECT *, row_number() OVER
           |    (PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id) AS rank
           |  FROM scored)
           |SELECT query_id, doc_id, bm25_micro, n_terms, rank
           |FROM ranked WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)
    }),

    // SQL route for the BATCH PHRASE probe (r15 VERDICT task 3): ONE
    // statement serving a whole phrase TABLE — the phrases land as an
    // inline VALUES relation carrying (query_id, token, slot, len),
    // the union of every phrase's terms bucket-prunes ONE positional
    // probe, and an occurrence is a (query, doc, start) group whose
    // matched slots cover the phrase (the k-way pos−slot alignment as
    // a GROUP BY — the same candidate set the API path's equi-join
    // builds). Distinct-term phrases (the fixture's shape; a repeated
    // term would need per-slot multiplicity). Shares doc_phrase_batch's
    // token-slice replay oracle.
    "sql_phrase_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      val qRows = PhraseBatchQueries.flatMap { case (qid, terms) =>
        terms.zipWithIndex.map { case (t, i) =>
          s"(CAST($qid AS BIGINT), ${sqlLit(t)}, $i, ${terms.size})" }
      }.mkString(", ")
      val allTerms = PhraseBatchQueries.flatMap(_._2).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, token, idx, qlen)),
           |occ AS (SELECT token, doc_id, pos FROM graft_pos_$key
           |        WHERE token IN ($allTerms)),
           |starts AS (SELECT q.query_id, occ.doc_id
           |  FROM occ JOIN q USING (token)
           |  GROUP BY q.query_id, q.qlen, occ.doc_id, occ.pos - q.idx
           |  HAVING count(DISTINCT q.idx) = q.qlen)
           |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
           |FROM starts GROUP BY query_id, doc_id
           |ORDER BY query_id, doc_id""".stripMargin)
    }),

    // SQL route for the BATCH SUBSTRING probe (r15 VERDICT task 3):
    // ONE statement serving a needle TABLE — every needle's trigrams
    // ride one inline VALUES relation, their union bucket-prunes ONE
    // trigram-index probe, per-needle AND-intersection cuts candidates
    // from that frame (HAVING count of matched trigrams = the
    // needle's), and a single broadcast join against the normalized
    // corpus verifies every (needle, candidate) pair with the same
    // length arithmetic as the API path. Shares doc_substring_batch's
    // per-needle replay oracle (the match-less needle contributes zero
    // rows on both engines).
    "sql_substring_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_subb_v")
      val triRows = SubstringBatchQueries.flatMap { case (qid, needle) =>
        val tris = needle.sliding(3).toSeq.distinct
        tris.map(t =>
          s"(CAST($qid AS BIGINT), ${sqlLit(t)}, ${tris.size})")
      }.mkString(", ")
      val qnRows = SubstringBatchQueries.map { case (qid, needle) =>
        s"(CAST($qid AS BIGINT), ${sqlLit(needle)}, ${needle.length})"
      }.mkString(", ")
      val allTris = SubstringBatchQueries.flatMap(_._2.sliding(3)).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH qt AS (SELECT * FROM VALUES $triRows AS qt(query_id, tri, ntris)),
           |qn AS (SELECT * FROM VALUES $qnRows AS qn(query_id, needle, nlen)),
           |cand AS (SELECT qt.query_id, g.doc_id
           |         FROM graft_tri_$key g JOIN qt ON g.tri = qt.tri
           |         WHERE g.tri IN ($allTris)
           |         GROUP BY qt.query_id, g.doc_id
           |         HAVING count(DISTINCT g.tri) = max(qt.ntris)),
           |hits AS (SELECT /*+ BROADCAST(cand) */ c.query_id, d.doc_id,
           |           CAST((length(d.n) - length(replace(d.n, qn.needle, ''))) / qn.nlen AS BIGINT) AS n_hits
           |         FROM docs_norm_subb_v d
           |         JOIN cand c ON c.doc_id = d.doc_id
           |         JOIN qn ON qn.query_id = c.query_id)
           |SELECT query_id, doc_id, n_hits FROM hits WHERE n_hits > 0
           |ORDER BY query_id, doc_id""".stripMargin)
    }),

    // SQL route for the BATCH PROXIMITY probe: ONE statement serving a
    // term-pair TABLE — the pairs ride an inline VALUES relation, the
    // union of every pair's terms bucket-prunes ONE positional probe,
    // and each pair's min token gap is a three-way join + GROUP BY over
    // that pruned frame (the API path's shape as SQL). Shares
    // doc_proximity_batch's positions-cross-product replay oracle.
    "sql_proximity_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      val qRows = ProximityBatchQueries.map { case (qid, (ta, tb)) =>
        s"(CAST($qid AS BIGINT), ${sqlLit(ta)}, ${sqlLit(tb)})" }.mkString(", ")
      val allTerms = ProximityBatchQueries
        .flatMap { case (_, (a, b)) => Seq(a, b) }.distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, ta, tb)),
           |occ AS (SELECT token, doc_id, pos FROM graft_pos_$key
           |        WHERE token IN ($allTerms))
           |SELECT q.query_id, a.doc_id,
           |       CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
           |FROM q
           |JOIN occ a ON a.token = q.ta
           |JOIN occ b ON b.token = q.tb AND b.doc_id = a.doc_id
           |GROUP BY q.query_id, a.doc_id
           |ORDER BY query_id, doc_id""".stripMargin)
    }),

    // SQL route for the BATCH IVF probe: the query table's probed
    // clusters are ranked driver-side from the sidecar centroids (a
    // batch-bounded computation, exactly the API path's), inlined as a
    // VALUES relation, and ONE statement reads the UNION of everyone's
    // clusters once (`cluster IN` partition pruning on the layout
    // parquet), keeps each query inside its OWN clusters via
    // array_contains against the broadcast query rows, and ranks with
    // a per-query window over the pruned frame. Shares knn_ivf_batch's
    // layout fixture and exact brute-force oracle.
    "sql_ivf_batch" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") < 3)
        .crossJoin(s.range(10))
        .select((col("vec_id") * 100 + col("id") + lit(4900000L)).as("vec_id"),
          col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "batch"), nlist = 8, maxIter = 3)
      val qcl = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> graft.index.Ivf.probeClustersOf(
          layout.centroids, r.getSeq[Float](1).toArray, 1))
        .toIndexedSeq
      val union = qcl.flatMap(_._2).distinct
      val qcRows = qcl.map { case (qid, cs) =>
        s"(CAST($qid AS BIGINT), array(${cs.mkString(", ")}))" }.mkString(", ")
      s.read.parquet(layout.dir).createOrReplaceTempView("ivf_sqlb_layout_v")
      corpus.createOrReplaceTempView("embeddings_ivfb_v")
      s.sql(
        s"""WITH qc AS (SELECT * FROM VALUES $qcRows AS qc(query_id, qcl)),
           |q AS (SELECT e.vec_id AS query_id, e.embedding AS qe, qc.qcl
           |      FROM embeddings_ivfb_v e JOIN qc ON qc.query_id = e.vec_id),
           |d AS (SELECT q.query_id, t.vec_id, l2sq(t.embedding, q.qe) AS dist
           |      FROM ivf_sqlb_layout_v t JOIN q ON array_contains(q.qcl, t.cluster)
           |      WHERE t.cluster IN (${union.mkString(", ")})),
           |r AS (SELECT query_id, vec_id, dist,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY dist ASC, vec_id ASC) AS rank
           |      FROM d)
           |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
           |ORDER BY query_id ASC, rank ASC""".stripMargin)
    }),

    // SQL route for the BATCH HAMMING probe (r15 VERDICT task 3): a
    // query TABLE of 8-byte signatures served by ONE materialization
    // of the narrow (vec_id, N bit_count columns) frame — CACHE TABLE,
    // the SQL twin of hammingTopKBatch's localCheckpoint — then N
    // codegen TakeOrdered shortlists unioned (the sql_knn_batch
    // device on the binary rung). Shares knn_hamming_batch's
    // relational signature-ranking oracle.
    "sql_hamming_batch" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          graft.index.Binary.signatureOf(r.getSeq[Float](1), thr)))
        .toIndexedSeq
      graft.index.Binary.signaturesFromArtifact(s, artDir)
        .createOrReplaceTempView("binsig_sql_v")
      val hamCols = queries.map { case (qid, qsig) =>
        s"CAST(bit_count(sig ^ ${qsig}L) AS INT) AS _h$qid" }.mkString(", ")
      s.sql("UNCACHE TABLE IF EXISTS binsig_scored_v")
      s.catalog.dropTempView("binsig_scored_v")
      s.sql(s"CACHE TABLE binsig_scored_v AS SELECT vec_id, $hamCols FROM binsig_sql_v")
      val legs = queries.map { case (qid, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, vec_id, _h$qid AS hamming FROM
           |  (SELECT vec_id, _h$qid FROM binsig_scored_v
           |   ORDER BY _h$qid ASC, vec_id ASC LIMIT 10)""".stripMargin
      }.mkString("\nUNION ALL\n")
      val out = s.sql(
        s"""SELECT query_id, vec_id, hamming FROM ($legs)
           |ORDER BY query_id ASC, hamming ASC, vec_id ASC""".stripMargin)
        .localCheckpoint() // pin, then release the cached frame
      s.sql("UNCACHE TABLE IF EXISTS binsig_scored_v")
      s.catalog.dropTempView("binsig_scored_v")
      out
    }),

    // SQL-surface retrieval #2: exact phrase search over the persisted
    // positional index as ONE self-join statement — each leg's token
    // equality bucket-prunes to one bucket, the adjacency condition is
    // the textbook pos+1 intersection. Shares doc_phrase_search's
    // brute-force oracle.
    "sql_phrase_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      s.sql(
        s"""SELECT t0.doc_id AS doc_id, CAST(count(1) AS BIGINT) AS n_occurrences
           |FROM graft_pos_$key t0 JOIN graft_pos_$key t1
           |  ON t0.doc_id = t1.doc_id AND t1.pos = t0.pos + 1
           |WHERE t0.token = 'hash' AND t1.token = 'join'
           |GROUP BY t0.doc_id ORDER BY doc_id""".stripMargin)
    }),

    // SQL-surface retrieval #3: substring (LIKE '%needle%') search
    // through the trigram index as ONE statement — the AND-intersected
    // candidate CTE reads only the needle trigrams' buckets, broadcast
    // into the corpus scan for exact verification; occurrence count by
    // the same non-overlapping length arithmetic. Shares
    // doc_substring_search's brute-force oracle.
    "sql_substring_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_sub_v")
      val needle = "merge batch"
      val tris = needle.sliding(3).toSeq.distinct
      val triList = tris.map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH cand AS (SELECT doc_id FROM graft_tri_$key
           |              WHERE tri IN ($triList)
           |              GROUP BY doc_id HAVING count(DISTINCT tri) = ${tris.size}),
           |hits AS (SELECT /*+ BROADCAST(cand) */ d.doc_id,
           |           CAST((length(d.n) - length(replace(d.n, ${sqlLit(needle)}, ''))) / ${needle.length} AS BIGINT) AS n_hits
           |         FROM docs_norm_sub_v d JOIN cand USING (doc_id))
           |SELECT doc_id, n_hits FROM hits WHERE n_hits > 0 ORDER BY doc_id""".stripMargin)
    }),

    // SQL-surface retrieval #4: proximity (within-k) search over the
    // persisted positional index as ONE self-join statement — both
    // term legs bucket-prune to one bucket each, the min token gap is
    // a plain GROUP BY. Shares doc_proximity_search's brute-force
    // positions-cross-product oracle.
    "sql_proximity_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      s.sql(
        s"""SELECT a.doc_id AS doc_id, CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
           |FROM graft_pos_$key a JOIN graft_pos_$key b ON a.doc_id = b.doc_id
           |WHERE a.token = 'vector' AND b.token = 'stream'
           |GROUP BY a.doc_id ORDER BY doc_id""".stripMargin)
    }),

    // SQL-surface entity resolution: the FastSS deletion-neighborhood
    // lookup as ONE spark.sql statement over the PERSISTED signature
    // store ([[graft.ops.FuzzyJoin.ensureFuzzyStore]]'s table — the
    // same artifact the streaming resolver probes). Only the
    // probe-sized side explodes its deletion signatures per statement
    // (pure Spark SQL transform/sequence lambdas — fully codegen, no
    // UDF); the registry leg is a plain scan of the prebuilt posting
    // table, so per-query work scales with the probes, never the
    // registry (the build-once/probe-many contract; previously this
    // statement re-exploded all |registry|·(len+1) signatures per
    // execution). The candidate equi-join broadcasts the probe side;
    // the exact filter is the built-in levenshtein. Shares
    // cust_fuzzy_lookup's BRUTE-FORCE probe×registry oracle, so the
    // hash match is a machine-checked completeness proof of the
    // persisted blocking too.
    "sql_fuzzy_lookup" -> ((s, dir) => {
      tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("cust_fuzzy_v")
      val storeDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_fuzzysql_${dirKey(dir)}"
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        tbl(s, dir, "customer"), storeDir, "c_custkey", "c_name")
      // the MASKED snapshot view, not a raw dir scan: base version ∪
      // committed live deltas − covering tombstones, so the SQL route
      // stays correct on a store that has taken mutations (here the
      // store is pristine and the view IS the plain scan — same plan)
      graft.ops.FuzzyJoin.fuzzyStoreView(s, storeDir)
        .createOrReplaceTempView("cust_fuzzy_store_v")
      s.sql(
        """WITH probes AS (
          |  SELECT c_custkey AS probe_id,
          |         concat(substring(c_name, 1, cpos - 1), CAST(new_d AS STRING),
          |                substring(c_name, cpos + 1, length(c_name))) AS probe_name
          |  FROM (SELECT c_custkey, c_name,
          |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
          |               (CAST(substring(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
          |                  + 1 + c_custkey % 9) % 10 AS new_d
          |        FROM cust_fuzzy_v WHERE c_custkey % 97 = 0)),
          |prb AS (SELECT probe_id, probe_name,
          |          explode(array_union(array(probe_name),
          |            transform(sequence(1, length(probe_name)),
          |              i -> concat(substring(probe_name, 1, i - 1),
          |                          substring(probe_name, i + 1, length(probe_name)))))) AS sig
          |        FROM probes),
          |cand AS (SELECT /*+ BROADCAST(prb) */ DISTINCT
          |           prb.probe_id, prb.probe_name,
          |           reg.store_id AS c_custkey, reg.store_name AS c_name
          |         FROM cust_fuzzy_store_v reg JOIN prb USING (sig))
          |SELECT probe_id, c_custkey,
          |       CAST(levenshtein(probe_name, c_name) AS INT) AS dist
          |FROM cand WHERE levenshtein(probe_name, c_name) <= 1
          |ORDER BY probe_id, c_custkey""".stripMargin)
    }),

    // RANGE (radius) search — FAISS range_search: every vector within
    // squared-L2 <= 2.0 of query vec 0, nearest-first. No top-k bound:
    // the result is selectivity-sized by contract (epsilon-ball dup
    // detection / recall harvesting). One narrow codegen scan; the
    // boundary comparison is exact because both engines compute the
    // identical left-associative float64 distance.
    "knn_range" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.rangeSearch(e, q, radiusSq = 2.0)
    }),

    // Range search on the SQL surface: ONE spark.sql statement through
    // the registered l2sq codegen kernel — the epsilon-ball WHERE is a
    // plain predicate over the scan (no top-k bound by contract), and
    // the boundary comparison is exact because both engines compute
    // the identical left-associative float64 distance. Shares
    // knn_range's oracle.
    "sql_range_search" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      emb(s, dir).createOrReplaceTempView("embeddings_range_v")
      s.sql(
        """SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
          |FROM embeddings_range_v e CROSS JOIN
          |     (SELECT embedding AS qe FROM embeddings_range_v WHERE vec_id = 0) q
          |WHERE l2sq(e.embedding, q.qe) <= 2.0
          |ORDER BY dist ASC, vec_id ASC""".stripMargin)
    }),

    // SQL route to the persisted SQ8 ANN layout — closing the gap where
    // a SQL-first user could reach the exact scan, the binary table and
    // every text index but not the quantized code layouts. ONE
    // spark.sql statement: the registered sq8_adc kernel (the SAME
    // PqAdcExpr codegen scan as the API path — the table is built at
    // plan time through the shared Sq.adcTableD core) shortlists 200
    // ids over the persisted 4×-compressed codes, and the exact-rerank
    // join touches full-precision vectors for 200 rows only. The
    // bounds/query literals are D-suffixed doubles (exact float64
    // round-trip). Equals exact top-10 (the knn_sq8_rerank contract),
    // so it shares the brute-force oracle.
    "sql_sq8_topk" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val model = graft.index.Sq.modelFromArtifact(s, baseDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      def dArr(a: Array[Double]): String =
        a.map(v => s"${v}D").mkString("array(", ",", ")")
      graft.index.Sq.codesWithDeltas(s, baseDir)
        .createOrReplaceTempView("sq8_codes_v")
      corpus.createOrReplaceTempView("embeddings_sq8_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM sq8_codes_v
           |  ORDER BY sq8_adc(codes, ${dArr(model.vmin.map(_.toDouble))},
           |                   ${dArr(model.vmax.map(_.toDouble))},
           |                   ${dArr(query.map(_.toDouble))}) ASC, vec_id ASC
           |  LIMIT 200)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_sq8_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_sq8_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // SQL route for the BATCH SQ8 probe (r14 VERDICT task 3): a query
    // TABLE served by ONE codes materialization — `CACHE TABLE` holds
    // the narrow (vec_id, N adc columns) frame the N shortlist cuts
    // read (the SQL twin of the API's localCheckpoint in
    // Sq.searchRerankBatch; without it Spark inlines the CTE and pays
    // N codes scans), then one statement takes the per-query ADC
    // shortlists, joins the true vectors ONCE for all queries, and
    // ranks with a per-query window over shortlist-bounded rows. Every
    // kernel is the registered codegen sq8_adc/l2sq pair — the same
    // float cores as the API path. Shares knn_sq8_batch's exact
    // brute-force oracle (ADC shortlist 1000 + exact rerank = exact
    // top-10, the same contract).
    "sql_knn_batch" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val model = graft.index.Sq.modelFromArtifact(s, baseDir)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      def dArr(a: Array[Double]): String =
        a.map(v => s"${v}D").mkString("array(", ",", ")")
      val lo = dArr(model.vmin.map(_.toDouble))
      val hi = dArr(model.vmax.map(_.toDouble))
      graft.index.Sq.codesWithDeltas(s, baseDir)
        .createOrReplaceTempView("sq8_codesb_v")
      corpus.createOrReplaceTempView("embeddings_sq8b_v")
      val adcCols = queries.map { case (qid, q) =>
        s"sq8_adc(codes, $lo, $hi, ${dArr(q.map(_.toDouble))}) AS _d$qid"
      }.mkString(", ")
      s.sql("UNCACHE TABLE IF EXISTS sq8_scored_v")
      s.catalog.dropTempView("sq8_scored_v")
      s.sql(s"CACHE TABLE sq8_scored_v AS SELECT vec_id, $adcCols FROM sq8_codesb_v")
      val shortLegs = queries.map { case (qid, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, vec_id FROM
           |  (SELECT vec_id FROM sq8_scored_v ORDER BY _d$qid ASC, vec_id ASC LIMIT 1000)""".stripMargin
      }.mkString("\nUNION ALL\n")
      val out = s.sql(
        s"""WITH short AS ($shortLegs),
           |q AS (SELECT vec_id AS query_id, embedding AS qe
           |      FROM embeddings_sq8b_v WHERE vec_id < 3),
           |d AS (SELECT sh.query_id, e.vec_id, l2sq(e.embedding, q.qe) AS dist
           |      FROM short sh
           |      JOIN embeddings_sq8b_v e ON e.vec_id = sh.vec_id
           |      JOIN q ON q.query_id = sh.query_id),
           |r AS (SELECT query_id, vec_id, dist,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY dist ASC, vec_id ASC) AS rank
           |      FROM d)
           |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
           |ORDER BY query_id ASC, rank ASC""".stripMargin)
        // pin the (shortlist-bounded) result, then RELEASE the cached
        // ADC frame — without this the corpus-width materialization
        // lingers in executor memory for the rest of the session
        .localCheckpoint()
      s.sql("UNCACHE TABLE IF EXISTS sq8_scored_v")
      s.catalog.dropTempView("sq8_scored_v")
      out
    }),

    // SQL route to the persisted IVF layout: ONE spark.sql statement
    // whose `cluster IN (...)` predicate (clusters ranked driver-side
    // from the sidecar centroids, nprobe=1 of 8) is PARTITION PRUNING
    // on the cluster-partitioned parquet — the statement reads 1/8 of
    // the data (plan-pinned by SqlAnnSpec). Same planted-copy
    // construction as knn_ivf_pruned, so the pruned probe still equals
    // the brute-force oracle over the full planted corpus.
    "sql_ivf_topk" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val clusters = graft.index.Ivf.probeClustersOf(layout.centroids, query, 1)
      s.read.parquet(layout.dir).createOrReplaceTempView("ivf_sql_layout_v")
      corpus.createOrReplaceTempView("embeddings_ivfsql_v")
      s.sql(
        s"""SELECT t.vec_id AS vec_id, l2sq(t.embedding, q.qe) AS dist
           |FROM ivf_sql_layout_v t
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_ivfsql_v
           |            WHERE vec_id = 0) q
           |WHERE t.cluster IN (${clusters.mkString(", ")})
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // BATCH SQ8 probe — N queries served by ONE pass over the 4×-
    // compressed codes: the scan computes one codegen ADC column per
    // query, stack unpivots, one bounded window cuts per-query
    // shortlists (identical to each single-probe shortlist by
    // construction), and the exact rerank joins the true vectors once
    // for all queries. With the true neighbors inside every shortlist
    // the result equals per-query exact top-10, which the oracle
    // replays for all three queries.
    "knn_sq8_batch" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = sqIndex(dir, corpus)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      graft.index.Sq.searchRerankBatch(enc, corpus, model, queries,
        k = 10, shortlist = 1000)
    }),

    // BATCH IVF probe — a query table served by ONE partition-pruned
    // scan (the IVF twin of knn_hnsw_batch): three queries' probed
    // clusters union into a single `cluster IN` read, a broadcast
    // pair-predicate keeps each query inside its OWN probed clusters,
    // and per-query top-10 runs through the bounded TopKAggregator.
    // Ten exact copies of each query are planted so every true top-10
    // lives in its query's nprobe=1 cluster — the pruned batch result
    // EQUALS per-query exact brute force, which the oracle replays.
    "knn_ivf_batch" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") < 3)
        .crossJoin(s.range(10))
        .select((col("vec_id") * 100 + col("id") + lit(4900000L)).as("vec_id"),
          col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "batch"), nlist = 8, maxIter = 3)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.index.Ivf.searchLayoutBatch(s, layout, queries, k = 10, nprobe = 1)
    }),

    // SQL route to the PQ code layout — the 32×-compression rung of
    // the quantized SQL family (sql_sq8_topk is the 4× rung): ONE
    // spark.sql statement whose registered pq_adc kernel builds the
    // ADC table at plan time from the literal flattened codebook
    // (through the SAME Pq.adcTableFlat float core as the API path —
    // bit-identical by construction, spec-asserted) and scans the
    // codes with the PqAdcExpr codegen kernel; exact rerank of the
    // 1000-code shortlist equals exact top-10 (knn_pq_rerank's
    // shortlist policy), so it shares the brute-force oracle.
    "sql_pq_topk" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val (cb, enc) = pqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // exact float-widened doubles: the literal round-trips losslessly
      def fArr(a: Array[Float]): String =
        a.map(v => s"${v.toDouble}D").mkString("array(", ",", ")")
      enc.createOrReplaceTempView("pq_codes_v")
      corpus.createOrReplaceTempView("embeddings_pq_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM pq_codes_v
           |  ORDER BY pq_adc(codes, ${fArr(graft.index.Pq.flatCentroids(cb))},
           |                  ${fArr(query)}, 8) ASC, vec_id ASC
           |  LIMIT 1000)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_pq_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_pq_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // SQL route to the OPQ code layout — the SAME registered pq_adc
    // kernel serves it: OPQ's only query-time difference is the
    // learned rotation, applied driver-side to the query before the
    // literal reaches the statement (exactly what the API path's
    // searchOpq does), so the quantized SQL family is now complete
    // (PQ / OPQ / SQ8 / IVF / Hamming / exact / range).
    "sql_opq_topk" -> ((s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val (model, enc) = opqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val qRot = graft.index.Pq.rotateQuery(model, query)
      def fArr(a: Array[Float]): String =
        a.map(v => s"${v.toDouble}D").mkString("array(", ",", ")")
      enc.createOrReplaceTempView("opq_codes_v")
      corpus.createOrReplaceTempView("embeddings_opq_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM opq_codes_v
           |  ORDER BY pq_adc(codes, ${fArr(graft.index.Pq.flatCentroids(model.cb))},
           |                  ${fArr(qRot)}, 8) ASC, vec_id ASC
           |  LIMIT 1000)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_opq_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_opq_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // Extension: batch k-NN similarity join (3 query vectors × corpus,
    // broadcast query side, per-query windowed top-k).
    "knn_join_top5" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnJoin(queries, corpus, k = 5)
    }),

    // Same batch kNN join via the bounded TopKAggregator (map-side
    // partial aggregation: shuffle is |partitions|×|Q|×k instead of
    // |corpus|×|Q|) — same oracle as the window form.
    "knn_join_agg_top5" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnJoinAgg(queries, corpus, k = 5)
    }),

    // Hard-negative mining (ANCE-style): per anchor, the 5 nearest
    // corpus rows with a DIFFERENT label. The label predicate sits
    // under the bounded top-k aggregation — a post-filter over an
    // unconstrained top-k would come up short whenever same-label rows
    // crowd the front (they do: the fixture clusters BY label).
    "knn_hard_negatives" -> ((s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding", "label")
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      VectorSearch.hardNegatives(queries, corpus, k = 5)
    }),

    // k-NN majority-vote classification: the labeled-corpus read path
    // (weak labeling / tag suggestion). Bounded-agg neighbors, neighbor
    // table broadcast back for labels, deterministic vote tie-break.
    "knn_classify" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnClassify(queries, corpus, k = 10)
        .orderBy(col("query_id"))
    }),

    // Approximate batch kNN join (LSH-bucketed candidates — the scale
    // path when the query side is too large to broadcast), declared as a
    // single-row INVARIANT summary: every reported distance must equal
    // the recomputed exact distance, lie within the search radius, and
    // rank consistently with the engine's (dist, id) order, with at most
    // k rows per query. Those counts are 0/5 regardless of which
    // candidates LSH surfaces, so the oracle pins them as constants;
    // recall vs the exact join is pinned separately in AnnSpec.
    "knn_join_approx" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val model = graft.index.Ann.fit(corpus)
      val approx = graft.index.Ann.knnJoinApprox(model, queries, corpus, k = 5, maxDistance = 2.0)
      val checked = approx
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(queries, "query_id")
        .withColumn("true_dist", graft.functions.Distances.l2Sq(col("q_embedding"), col("embedding")))
        .withColumn("rank_check", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("dist").asc, col("vec_id").asc)))
      checked.agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("dist") > lit(2.0 * 2.0), 1L).otherwise(0L)).as("out_of_radius"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 5, 1L).otherwise(0L)).as("over_k"))
    }),

    // Multimodal decode + frame-sample over a binary column: per-media
    // descriptor (dimensions, frame counts, byte totals) joined with the
    // sampled-frame summary. The decode kernel is a REAL container
    // parse (JPEG SOF0, PNG IHDR + CRC, WAV RIFF chunks, MJPEG marker
    // walk — MediaCodecs) over real minimal files the fixture encodes;
    // the oracle recomputes the expected values from the fixture's id
    // arithmetic, so writer and parser must agree through the actual
    // byte formats for the hash to match.
    "media_decode_stats" -> ((s, dir) => {
      val media = mediaFixture(s)
      val decoded = graft.multimodal.Multimodal.decode(media).toDF()
      val frames = graft.multimodal.Multimodal.sampleFrames(media, maxFrames = 4).toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("frames_sampled"),
          sum(length(col("frame_bytes")).cast("long")).as("frame_bytes"))
      decoded.join(frames, "media_id")
        .select(col("media_id"), col("modality"), col("width"), col("height"),
          col("n_frames"), col("n_bytes"), col("frames_sampled"), col("frame_bytes"))
        .orderBy(col("media_id"))
    }),

    // REAL image resize: PPM rasters with arithmetic pixels, downscaled
    // fit-within-32×32 by actual nearest-neighbor resampling
    // (MediaCodecs.resizePpmNearest); the oracle recomputes output
    // dims, byte counts, AND the full raster checksum from the same
    // integer arithmetic — every output pixel byte is pinned.
    "media_resize_stats" -> ((s, dir) => {
      import s.implicits._
      val src = s.range(200).map { id =>
        val w = 8 + (id % 97).toInt
        val h = 8 + (id % 89).toInt
        graft.multimodal.Multimodal.MediaRecord(id, "image",
          graft.multimodal.MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((7 * x + 13 * y) % 251, (3 * x + 5 * y) % 241, (11 * x + 2 * y) % 239)),
          """{"fmt":"ppm"}""")
      }
      graft.multimodal.Multimodal.ppmStats(
          graft.multimodal.Multimodal.resizeImages(src, maxW = 32, maxH = 32))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // REAL feature extraction over decoded media content: P6 rasters →
    // 4×4×3 subsampled-RGB vectors (actual pixel bytes via the
    // nearest-neighbor thumbnail), PCM WAVs → 8 amplitude frame stats —
    // all integer arithmetic the oracle replays from the fixture's id
    // formulas. Declared output is the exact integer projection of every
    // feature vector (dim count, sum, min, max).
    "media_features" -> ((s, dir) => {
      val feats = graft.multimodal.Multimodal
        .extractFeatures(mediaFeatFixture(s), grid = 4).toDF()
      feats.select(col("media_id"),
          size(col("embedding")).as("n_dims"),
          aggregate(col("embedding"), lit(0L), (acc, x) => acc + x.cast("long")).as("f_sum"),
          array_min(col("embedding")).cast("long").as("f_min"),
          array_max(col("embedding")).cast("long").as("f_max"))
        .orderBy(col("media_id"))
    }),

    // The extracted image features feed the embedding-dedup ANN operator
    // directly: SRP-banded near-dup over the 48-dim grid vectors
    // surfaces the 20 planted red-bump near-duplicates (cos ≥ 0.99993)
    // plus 15 genuinely similar low-id gradient rasters that sit above
    // the 0.999 gate — all deterministic (fixed fixture, seeded SRP;
    // band-miss probability at the gate ≈ 1e-11). The oracle recomputes
    // the features AND the brute-force cosine join in SQL — media bytes
    // to ANN verdict, one hash-pinned path.
    "media_feature_dups" -> ((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val feats = graft.multimodal.Multimodal.extractFeatures(imgs, grid = 4).toDF()
        .select(col("media_id").as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(feats, minCosine = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // 64-bit perceptual DIFFERENCE HASH per image (dHash, the standard
    // image near-dup signature): real P6 raster bytes → 9×8
    // nearest-neighbor gray-sum grid → 64 row-adjacent comparisons.
    // All-integer arithmetic, so the oracle rebuilds the identical
    // hash from the fixture's id-parameterized pixel formulas —
    // container bytes to signature, hash-pinned. One narrow map, 8
    // bytes out per image; at 100 TB the signature table is 32,000,000×
    // smaller than a 1 MB-image corpus.
    "media_dhash" -> ((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      graft.multimodal.Multimodal.dHash(imgs).toDF()
        .orderBy(col("media_id"))
    }),

    // Perceptual image near-dup pairs: the banded signature join
    // (complete for hamming ≤ 3 by pigeonhole — shared with SimHash,
    // never all-pairs) over the dHash table. The planted red-bump
    // near-dups (ids 80–99 = ids 0–19 with a uniform +1 brightness
    // shift) land at hamming 0 — dHash compares ADJACENT pixels, so a
    // uniform shift cancels — exactly the duplicate class byte-exact
    // dedup can never see. The oracle replays hashes AND the
    // brute-force pair truth; banded candidates must equal it exactly.
    "media_dhash_dedup" -> ((s, dir) => {
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      val sigs = graft.multimodal.Multimodal.dHash(imgs).toDF()
        .select(col("media_id"), col("dhash"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "dhash")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // 64-bit energy-delta AUDIO fingerprint per clip (the Shazam-family
    // shape reduced to one word): real RIFF/PCM bytes → 65 frame
    // energies (Σ|sample|, integer) → 64 adjacent comparisons.
    // Volume-invariant by construction — both sides of every comparison
    // scale together under uniform gain. The oracle replays sample
    // values, frame slicing, and bit packing from the id formulas.
    "media_audio_fp" -> ((s, dir) => {
      graft.multimodal.Multimodal.audioFingerprint(audioFpFixture(s)).toDF()
        .orderBy(col("media_id"))
    }),

    // Audio near-dup pairs over the fingerprints — the same banded
    // signature join as SimHash/dHash (complete for hamming ≤ 3, never
    // all-pairs). The planted double-volume clips (ids 80–99 = ids 0–19
    // at gain 2×) land at hamming 0: the loudness-normalized duplicate
    // class exact byte dedup cannot see. Oracle: brute-force pair truth
    // over the replayed fingerprints.
    "media_audio_fp_dedup" -> ((s, dir) => {
      val sigs = graft.multimodal.Multimodal
        .audioFingerprint(audioFpFixture(s)).toDF()
        .select(col("media_id"), col("fp"))
      Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id", sigCol = "fp")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // STORE-backed streaming PERCEPTUAL media dedup — the crawl loop's
    // multimodal leg: seed a 16-byte/image signature store from the
    // first 50 rasters, stream the full media fixture through per-batch
    // dHash + banded Hamming verdicts against the store, append novel
    // signatures as batch-keyed overwrite deltas. Raster bytes never
    // persist and never shuffle; executor state is ZERO (measured via
    // stream_state); non-image rows drop with the signature. The
    // oracle replays the seed store and the single-file micro-batch:
    // verdict = min-(hamming, id) seed match within ≤ 3.
    "stream_media_dedup" -> ((s, dir) => {
      val scratch = scratchDir("stream_media_dedup")
      val storeDir = s"$scratch/store"
      val seedDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_seedsig_${dirKey(dir)}"
      val imgs = mediaFeatFixture(s).filter(_.modality == "image")
      Dedup.ensureSigStore(s,
        graft.multimodal.Multimodal.dHash(imgs.filter(_.media_id < 50)).toDF()
          .select(col("media_id"), col("dhash").as("sig")),
        seedDir)
      copyDir(seedDir, storeDir)
      // the media corpus as ONE parquet file → one deterministic
      // micro-batch (the stream_incremental replay discipline)
      val mediaPath = s"$scratch/media"
      mediaFeatFixture(s).toDF().coalesce(1).write.parquet(mediaPath)
      val schema = s.read.parquet(mediaPath).schema
      val stream = s.readStream.schema(schema).parquet(mediaPath)
      val q = graft.streaming.StreamingIngest.streamingMediaDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_media_dedup",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("media_id"), col("is_novel"), col("near_dup_of"),
          col("hamming"))
        .orderBy(col("media_id"))
    }),

    // Temperature-flattened mixture (α = 1/2 exponent sampling, the
    // XLM-R-style rebalance): per-source keep thresholds ∝ √n_s under a
    // 300-doc budget — all integer arithmetic (⌊√n⌋ is exact) the
    // oracle rederives from the same histogram; row fate is the usual
    // md5 deviate. Narrow literal-threshold filter, no shuffle.
    "corpus_temp_mixture" -> ((s, dir) => {
      graft.ops.Sampling.temperatureMixture(docs(s, dir), "source",
          budget = 300L, salt = "tm2")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Overlapping context-window chunking (32-token windows, stride 24
    // — 8-token overlap): the RAG / long-doc splitter. Boundaries are
    // integer arithmetic; each chunk's CONTENT is pinned via the md5 of
    // the space-joined window. Narrow explode, no shuffle.
    "doc_chunks" -> ((s, dir) => {
      TextAnalysis.docChunks(docs(s, dir), window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Corpus-wide top-40 vocabulary (count desc, token tiebreak) — the
    // tokenizer/stopword-building rollup: map-side partial counts into
    // a bounded global top-k (TakeOrderedAndProject), never a full sort.
    "corpus_vocab" -> ((s, dir) => {
      TextAnalysis.topTokens(docs(s, dir), k = 40)
    }),

    // Zipf profile: frequency-of-frequency over the vocabulary — both
    // aggregations are massive reductions (wordcount partial-aggregates
    // the hot head map-side; the second groupBy sees |vocab| rows).
    "corpus_token_spectrum" -> ((s, dir) => {
      TextAnalysis.tokenFrequencySpectrum(docs(s, dir))
    }),

    // Windowed PMI collocations: map-only pair generation (posexplode +
    // slice — no self-join), map-side partial counts, minCount cut
    // before the unigram joins, 1-row broadcast totals, TakeOrdered.
    "doc_pmi_pairs" -> ((s, dir) => {
      TextAnalysis.pmiPairs(docs(s, dir), window = 3, minCount = 5L, topK = 30,
        broadcastUnigrams = true)
    }),

    // TextRank keywords (Mihalcea & Tarau '04): integer-micro PageRank
    // over the bounded window-co-occurrence graph — 5 damped rounds of
    // exact floor-division contributions, so the iterative ranking
    // replays bit-identically. Corpus work = the one co-occurrence
    // aggregation; the walk runs on the vocab-bounded edge set.
    "corpus_textrank" -> ((s, dir) => {
      TextAnalysis.textRank(docs(s, dir), window = 3, minCount = 5L,
        iters = 5, topK = 20)
    }),

    // BPE merge training: one corpus pass builds the distinct-word
    // table; each round is vocab-bounded (pair explode + weighted
    // count + 1-row argmax) with the greedy merge applied as a narrow
    // fold — the Sennrich/fastBPE word-count trick as Spark plans.
    "corpus_bpe_merges" -> ((s, dir) => {
      graft.text.Bpe.learnMerges(docs(s, dir), numMerges = 6)
    }),

    // BPE inference over the corpus with the merges just learned:
    // train (bounded driver artifact) → apply every rule in rank order
    // per word (narrow fold, no shuffle) — the md5 of each doc's
    // subword sequence byte-checks the full train→tokenize path.
    "doc_bpe_tokenize" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.learnMerges(d, numMerges = 6).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.applyMerges(d, merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }),

    // Batched BPE training at a REALISTIC rule count: 8 rounds × up to
    // 16 pairwise-disjoint merges (fastBPE-style amortization, ~90
    // rules on the fixtures) — the per-merge driver-round cost of the
    // sequential form amortized ~11×, the shape that reaches a
    // 32k-rule production vocabulary in ~64 rounds at batch 512
    // instead of 32k sequential jobs. The oracle replays the greedy
    // independent-set selection (recursive CTE) and the combined
    // fold verbatim.
    // Training reads through the PERSISTED merge artifact (fingerprint
    // sidecar — the tokenizer file, built once per corpus+params and
    // shared with the tokenize query below): repeat invocations pay an
    // artifact read, not a retrain.
    "corpus_bpe_merges_batch" -> ((s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, docs(s, dir), artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.mergesFromArtifact(s, artDir)
    }),

    // The trained VOCABULARY (GPT-2's vocab.json next to merges.txt):
    // subword symbols with weighted occurrence counts after all ~90
    // rules — rules via the shared artifact; one corpus pass + 8
    // vocab-bounded folds regardless of rule count. The oracle replays
    // the full batched construction and aggregates the final symbols.
    "corpus_bpe_vocab" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.vocabAfterRounds(d,
        graft.text.Bpe.loadMergeRounds(s, artDir), topK = 50)
    }),

    // BPE inference at the full ~90-rule vocabulary: rules from the
    // shared merge artifact, each round's disjoint rule set applied as
    // ONE combined fold over the word cache — 8 materialized vocab
    // steps for ~90 rules (vs one per rule), the rule-count-scalable
    // apply.
    "doc_bpe_tokenize_batch" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      val rounds = graft.text.Bpe.loadMergeRounds(s, artDir)
      graft.text.Bpe.applyMergesGrouped(d, rounds)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }),

    // BPE inference with an EXTERNAL rank-ordered merge list — the
    // 1.1k-rule shipped fixture (graft.tools.GenExtMerges provenance),
    // rank-ordered and NON-disjoint like every real merges.txt, so the
    // grouped per-round fold is not legal and the per-rule chain would
    // cost 1.1k materialized steps. Instead: the standard priority
    // loop (lowest-ranked present pair first) as ONE codegen kernel
    // over the word cache — one narrow map stage; rule count sizes
    // only the hashed rank map. The iteration bound is DERIVED from
    // the data (max symbol count - 1, logged) so every word fully
    // converges structurally; the oracle unrolls a static 16 steps
    // >= any derived bound here (converged words idle through surplus
    // layers untouched).
    "doc_bpe_tokenize_ext" -> ((s, dir) => {
      graft.text.Bpe.applyMergesRanked(docs(s, dir),
          graft.text.Bpe.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }),

    // UNIGRAM-LM tokenizer training (Kudo ACL'18 — the SentencePiece
    // family, the OTHER production tokenizer besides BPE): seed vocab
    // from weighted substring counts, then deterministic Viterbi-EM
    // rounds — costs are QUANTIZED INTEGERS (-floor(1e6*ln p)), so the
    // whole DP is exact arithmetic and the oracle replays it as a
    // list_reduce lattice walk with the identical (cost, j) tie-break.
    // Work shape: one corpus-sized word count; every round is
    // vocab-bounded (kernel per DISTINCT word, costs as a broadcast
    // hash map).
    // Training reads through the PERSISTED vocab artifact (fingerprint
    // sidecar — the SentencePiece-style model file, built once per
    // corpus+params and shared with the tokenize query below): repeat
    // invocations pay an artifact read, not a retrain.
    "corpus_unigram_vocab" -> ((s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, docs(s, dir), artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      graft.text.Unigram.vocabFromArtifact(s, artDir)
    }),

    // Unigram INFERENCE end-to-end: train (as above, via the shared
    // vocab artifact), then Viterbi-segment every document through the
    // word cache under the final piece costs, positional rejoin — the
    // complete SentencePiece-style pipeline, oracle-replayed train AND
    // apply.
    "doc_unigram_tokenize" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenize(d, vocab)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_pieces"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    }),

    // Unigram TOKEN IDS — SentencePiece id conventions (<unk>=0,
    // <s>=1, </s>=2, trained pieces 3+rank by score order), the
    // unigram twin of doc_bpe_token_ids: Viterbi AND the hashed
    // piece->id probe (VocabIdsExpr — O(1) at any vocab size) both run
    // inside the word cache, OOV fallback chars coalesce to <unk>, and
    // each document terminates with </s>. The oracle assigns ids by
    // row_number over the replayed final vocabulary and maps the
    // segmented pieces through a LEFT JOIN + coalesce(0).
    "doc_unigram_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenIds(d, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // BYTE FALLBACK (SentencePiece --byte_fallback, the Llama-family
    // convention): train on `documents`, apply to the EXTENDED corpus
    // — whose fixture rows carry accents/CJK/emoji the training corpus
    // never saw, exactly when the fallback fires. An OOV character
    // expands to its UTF-8 bytes as <0xXX> pieces (ids 3..258; trained
    // pieces 259+rank) instead of collapsing to <unk>, so
    // segmentation-by-ids stays TOTAL over arbitrary new text.
    // n_fallback counts the byte-piece ids — the observable proving
    // the fallback actually fired. Viterbi + the hashed
    // probe-or-expand kernel run once per DISTINCT word.
    "doc_unigram_byte_fallback" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      graft.text.Unigram.tokenIdsByteFallback(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
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
    "stream_pack_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val scratch = freshScratchDir(dir, "streampack")
      val inDir = s"$scratch/in"
      val threshold = d.agg(max(col("doc_id"))).head().getLong(0) / 2
      var stateRows = 0L
      d.filter(col("doc_id") <= threshold).coalesce(1)
        .write.mode("overwrite").parquet(inDir)
      val q1 = graft.streaming.StreamPack.streamingPackIds(
        s.readStream.schema(d.schema).parquet(inDir),
        s"$scratch/sink", s"$scratch/chk", budget = 256L, nParts = 8)
      q1.awaitTermination()
      stateRows = math.max(stateRows, q1.recentProgress.iterator
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max))
      d.filter(col("doc_id") > threshold).coalesce(1)
        .write.mode("append").parquet(inDir)
      val q2 = graft.streaming.StreamPack.streamingPackIds(
        s.readStream.schema(d.schema).parquet(inDir),
        s"$scratch/sink", s"$scratch/chk", budget = 256L, nParts = 8)
      q2.awaitTermination()
      stateRows = math.max(stateRows, q2.recentProgress.iterator
        .map(p => p.stateOperators.map(_.numRowsTotal).sum).foldLeft(0L)(math.max))
      SparkEntry.streamStateRows.put("stream_pack_ids", stateRows)
      s.read.parquet(s"$scratch/sink")
        .select(col("doc_id"), col("part"), col("bin_idx"))
        .orderBy(col("doc_id"))
    }),

    "stream_tokenize_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_spcov_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150,
        marker = true, coveragePermyriad = 9800)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val scratch = freshScratchDir(dir, "streamtok")
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1)))
      val stream = s.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingTokenizeIds(
        stream, vocab, s"$scratch/sink", s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_tokenize_ids",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // Streaming classifier scoring — the quality-gate leg of the crawl
    // loop: micro-batches score statelessly under the SHARED persisted
    // LR model (same artifact as corpus_lr_train); batch-keyed
    // overwrite sink, zero executor state, replay-deterministic.
    "stream_lr_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      val scratch = freshScratchDir(dir, "streamlr")
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1)))
      val stream = s.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingClassifierScores(
        stream, vocab, w, s"$scratch/sink", s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_lr_score",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("score_micro"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // CHARACTER COVERAGE (SentencePiece --character_coverage, here an
    // integer permyriad): train at 98% character mass — the rare tail
    // of the corpus alphabet is excluded from the seed and KEPT out
    // through the EM rounds (UNK emissions do not re-enter; multi-char
    // pieces cannot smuggle an excluded char back in) — then
    // byte-fallback-tokenize the SAME corpus: the excluded in-corpus
    // tail now byte-falls-back, which is the point of the knob (vocab
    // slots go to useful pieces; coverage of the text stays total).
    "doc_unigram_coverage" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_cov_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      graft.text.Unigram.tokenIdsByteFallback(d, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // TOKEN WINDOWS — the chunking step between tokenization and the
    // model (training context windows, RAG passage chunks): each
    // document's GPT-2-path ids cut into 64-token windows at stride
    // 48 (16-token overlap), the tail window kept short — one NARROW
    // map per document (sequence + slice inside a single projection,
    // no shuffle, no per-window join), the shape that holds when the
    // corpus is 100 TB of token arrays. The oracle replays the same
    // slicing arithmetic over the replayed ids.
    "doc_token_windows" -> ((s, dir) => {
      val window = 64
      val stride = 48
      graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), floor((size(col("token_ids")) - 1) / lit(stride)).cast("int")),
          k => slice(col("token_ids"), k * lit(stride) + 1, lit(window))))
          .as(Seq("win_idx", "win")))
        .select(col("doc_id"), col("win_idx"),
          size(col("win")).cast("long").as("n_win"),
          md5(concat_ws(",", col("win"))).as("win_md5"))
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // EXTERNAL SentencePiece model apply — the user brings a PUBLISHED
    // unigram tokenizer (every Llama-family model ships a `.model`
    // ModelProto file; the shipped fixture is that file in the exact
    // Llama layout, generated deterministically): NORMAL pieces form
    // the Viterbi lattice at their quantized score costs with the ids
    // the MODEL assigns, the BYTE block backs out-of-vocabulary
    // fallback, </s> terminates each document, ▁ convention
    // throughout. No training anywhere — the unigram twin of
    // doc_bpe_tokenize_ext's merges.txt path. The oracle inlines the
    // model rows as VALUES and replays segmentation + id mapping.
    "doc_unigram_ext_model" -> ((s, dir) => {
      val model = graft.text.Unigram.externalFixtureModel()
      val lo = model.indexWhere(_.ptype == graft.text.Unigram.SpByte)
      val hi = lo + 255
      graft.text.Unigram.tokenIdsFromModel(extDocs(s, dir), model)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // The unigram ROUND-TRIP under the driver's hash gate — the full
    // production SentencePiece shape: ▁-marked training (the
    // add_dummy_prefix/whitespace-escape convention shipped models
    // use) + byte fallback, applied to the extended corpus, DECODED
    // back in one codegen kernel (pieces/bytes assemble, control ids
    // drop, markers become spaces) and compared against the
    // pretokenizer's own normalization of the original text —
    // `lossless` is the observable; exotic byte-fallback chars
    // included. A regression in EITHER direction of the ▁ pipeline is
    // a hash mismatch here.
    "doc_unigram_detokenize" -> ((s, dir) => {
      val x = extDocs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_sp_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, docs(s, dir), artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150, marker = true)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val ids = graft.text.Unigram.tokenIdsByteFallback(x, vocab, marker = true)
      graft.text.Unigram.detokenize(ids, vocab)
        .join(x, "doc_id")
        .select(col("doc_id"), col("text_rt"),
          (col("text_rt") === graft.text.TextAnalysis.normalizeText(col("text")))
            .as("lossless"))
        .orderBy(col("doc_id"))
    }),

    // WORDPIECE training (the BERT family — Schuster & Nakajima 2012,
    // Wu et al. 2016; the THIRD production tokenizer family next to
    // BPE and unigram): iterative best-pair merges over the
    // distinct-word table, scored by LIKELIHOOD GAIN
    // n(a,b)/(n(a)·n(b)) rather than raw frequency, `##` continuation
    // markers. One merge per round (the published trainer's shape —
    // the score changes after every merge). Reads through the
    // persisted merge artifact; the oracle replays every round's
    // pair/single counts and the float64 argmax exactly.
    "corpus_wordpiece_merges" -> ((s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, docs(s, dir), artDir,
        numMerges = 8)
      graft.text.WordPiece.mergesFromArtifact(s, artDir)
    }),

    // WORDPIECE inference — NOT merge replay: the released
    // WordpieceTokenizer greedily takes the LONGEST vocabulary piece
    // at each position (##-prefixed at continuation positions); a
    // position matching nothing turns the whole word into [UNK] (the
    // is_bad semantics). Train on `documents`, apply to the EXTENDED
    // corpus — whose digits/accents/CJK/emoji are outside the trained
    // alphabet, exactly where [UNK] fires. One codegen kernel per
    // DISTINCT word (WordPieceExpr), positional rejoin.
    "doc_wordpiece_tokenize" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenize(
          extDocs(s, dir), graft.text.WordPiece.matchPieces(vocab))
        .select(col("doc_id"),
          size(col("wp_tokens")).cast("long").as("n_pieces"),
          size(filter(col("wp_tokens"),
            x => x === lit(graft.text.WordPiece.UnkToken)))
            .cast("long").as("n_unk"),
          md5(concat_ws(" ", col("wp_tokens"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    }),

    // WORDPIECE TOKEN IDS under the BERT vocab.txt conventions:
    // specials [PAD]=0 [UNK]=1 [CLS]=2 [SEP]=3 [MASK]=4, the alphabet
    // from 5, merge outputs in rank order (first id wins on
    // duplicates); every document framed [CLS] … [SEP]. Greedy
    // segmentation AND the hashed O(1) piece->id probe both run inside
    // the word cache.
    "doc_wordpiece_ids" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenIds(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x === lit(graft.text.WordPiece.UnkId)))
            .cast("long").as("n_unk"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // WORDPIECE DECODE — ids back to text as one codegen kernel
    // (WordPieceDecodeExpr): control ids ([PAD]/[CLS]/[SEP]/[MASK])
    // drop, ## pieces glue to the previous word, everything else
    // ([UNK] included) opens a space-separated word. `lossless`
    // compares against the normalized source, so the round-trip sits
    // under the driver's hash gate — [UNK]-carrying rows are honestly
    // false, everything the vocabulary covers comes back exactly.
    "doc_wordpiece_detokenize" -> ((s, dir) => {
      val d = docs(s, dir)
      val x = extDocs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenIds(x, vocab)
        .select(col("doc_id"),
          graft.text.WordPiece.decodeIds(col("token_ids"), vocab)
            .as("text_rt"),
          size(filter(col("token_ids"),
            i => i === lit(graft.text.WordPiece.UnkId)))
            .cast("long").as("n_unk"))
        .join(x, "doc_id")
        .select(col("doc_id"), col("text_rt"), col("n_unk"),
          (col("text_rt") ===
            graft.text.TextAnalysis.normalizeText(col("text")))
            .as("lossless"))
        .orderBy(col("doc_id"))
    }),

    // BRING-YOUR-OWN WordPiece: a released vocab.txt is the COMPLETE
    // inference artifact (greedy longest-match needs only the
    // vocabulary — no merges file exists at inference time). The
    // shipped fixture uses the bert-base layout: [PAD]=0, an
    // [unusedN] block, [UNK]/[CLS]/[SEP]/[MASK] at 11–14 — ids that
    // deliberately DIFFER from this engine's training constants, so a
    // green hash proves the id plumbing is file-driven. Pure
    // inference: no training pass, one kernel per distinct word.
    "doc_wordpiece_ext_vocab" -> ((s, dir) => {
      val vocab = graft.text.WordPiece.externalFixtureVocab()
      val unkId = vocab.collectFirst { case ("[UNK]", i) => i }.get
      graft.text.WordPiece.tokenIdsExternal(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), x => x === lit(unkId)))
            .cast("long").as("n_unk"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // BYTE-LEVEL BPE training (the GPT-2 construction): raw-text
    // pretokens → UTF-8 bytes → the published bytes_to_unicode
    // alphabet → the shared batched trainer. Runs on the corpus
    // EXTENDED with punctuation/non-ASCII/emoji fixture rows — text
    // the char-level path cannot even represent. The oracle rebuilds
    // the byte symbolization from code-point arithmetic (UTF-8
    // encoding stated in SQL) + the inlined 256-row byte map, then
    // replays the identical training rounds.
    "corpus_bpe_bytelevel" -> ((s, dir) =>
      graft.text.ByteLevel.learnMergesBatched(extDocs(s, dir),
        rounds = 4, batchSize = 8, candCap = 128)),

    // The byte-fallback property MEASURED: of the extended corpus's
    // distinct non-whitespace characters, every one decomposes into
    // the 256-symbol byte-level base alphabet (computed per char, not
    // assumed), while the char-level token alphabet covers only the
    // lowercased survivors — uppercase, punctuation, CJK, emoji drop.
    "doc_bytelevel_coverage" -> ((s, dir) =>
      graft.text.ByteLevel.coverageReport(extDocs(s, dir))),

    // The GPT-2 PRODUCTION inference path end-to-end: raw-text
    // pretokens → byte symbolization → the priority loop over an
    // external rank-ordered BYTE-LEVEL merge list (the shipped
    // 1.1k-rule fixture with Ġ-space merges) — byte-level × ranked,
    // the combination every deployed tokenizer runs. One codegen
    // kernel pass per distinct pretoken; the oracle unrolls the loop
    // over the byte-level word table.
    "doc_bpe_tokenize_gpt2" -> ((s, dir) => {
      graft.text.ByteLevel.applyMergesRanked(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }),

    // TOKEN IDS — the tensor a model consumes: the GPT-2-path subwords
    // mapped through the vocab id table the fixture list induces (base
    // bytes 0–255 by byte value, merge outputs 256+rank, first rank
    // wins on duplicate outputs). One HASHED reference-object probe
    // per subword (VocabIdsExpr) — O(1) at any vocabulary size, where
    // the earlier typedLit map literal cost a linear scan per lookup.
    "doc_bpe_token_ids" -> ((s, dir) => {
      graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer FERTILITY report — the per-language efficiency metric
    // a tokenizer owner tracks before committing a vocab (subwords per
    // whitespace word = fertility; normalized chars per subword =
    // compression): the GPT-2-path token ids and the lang-ID kernel
    // fuse in one corpus pass, then a lang-keyed integer aggregate.
    // Ratios are micro-quantized BIGINT floor divisions (both engines
    // positive-truncate identically), so the report is hash-exact.
    // At 100 TB: one tokenize pass + a ≤6-group aggregate.
    "corpus_fertility" -> ((s, dir) => {
      val norm = graft.text.TextAnalysis.normalizeText(col("text"))
      // tokenIds reduces to (doc_id, token_ids); the text-derived
      // metrics ride a second narrow scan joined back by doc_id — one
      // doc-keyed equi-join, both sides pre-reduced to counts
      val sub = graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_sub"))
      extDocs(s, dir)
        .select(col("doc_id"),
          graft.text.TextAnalysis.languageId(col("text")).as("lang"),
          length(norm).cast("long").as("n_chars"),
          size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n_words"))
        .join(sub, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_sub")).as("sum_subwords"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_words"), col("sum_subwords"),
          expr("CAST((sum_subwords * 1000000) DIV greatest(sum_words, 1) AS BIGINT)")
            .as("fertility_micro"),
          expr("CAST((sum_chars * 1000000) DIV greatest(sum_subwords, 1) AS BIGINT)")
            .as("cps_micro"))
        .orderBy(col("lang"))
    }),

    // BRING-YOUR-OWN tokenizer.json — the HuggingFace single-file
    // serialization, the third external-tokenizer format this engine
    // loads (after merges.txt and the SentencePiece .model proto):
    // model.vocab is the AUTHORITATIVE id map (never re-derived from
    // rank conventions), model.merges feed the ranked kernel, the
    // ByteLevel pre_tokenizer block is validated (any other pipeline
    // rejects loudly), and <|endoftext|> appends per document at the
    // file's added-token id. Same plan shape as doc_bpe_token_ids —
    // one kernel pass per distinct pretoken, hashed O(1) id probe.
    "doc_hf_tokenizer_json" -> ((s, dir) => {
      val m = graft.text.HfTokenizer.externalFixture()
      graft.text.HfTokenizer.tokenIds(extDocs(s, dir), m)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // DECODE as a declared query — the round-trip under the driver's
    // hash gate: tokenIds' output decoded back through the reverse
    // vocab + inverse byte alphabet in ONE codegen kernel, compared
    // against the ORIGINAL raw text (`lossless`). A regression in
    // either direction of the tokenizer shows up as a hash mismatch
    // here, not just a failed unit spec.
    "doc_detokenize" -> ((s, dir) => {
      val d = extDocs(s, dir)
      val fixture = graft.text.ByteLevel.externalFixtureMerges()
      val ids = graft.text.ByteLevel.tokenIds(d, fixture)
      graft.text.ByteLevel.detokenize(ids, fixture)
        .join(d, "doc_id")
        .select(col("doc_id"), col("text_rt"),
          (col("text_rt") === col("text")).as("lossless"))
        .orderBy(col("doc_id"))
    }),

    // The trainer feed end-to-end: GPT-2-path token ids packed into
    // fixed-budget context windows and materialized as packed ID
    // SEQUENCES per (part, bin) — tokenize → pack → emit, the last
    // mile of the pretraining data pipeline. Packing rides the shared
    // greedy part-local recurrence (seq_pack); the oracle chains the
    // gpt2 ids prefix into the same recursive replay and the ordered
    // flatten.
    "seq_pack_ids" -> ((s, dir) => {
      val ids = graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), col("token_ids"),
          size(col("token_ids")).cast("long").as("n_tokens"))
      val packed = graft.ops.Packing.packGreedy(
        ids.select("doc_id", "n_tokens"), budget = 512L, nParts = 8)
      packed.join(ids, "doc_id")
        .groupBy(col("part"), col("bin_idx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          md5(concat_ws(",", flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("token_ids")))),
            x => x.getField("token_ids"))))).as("ids_md5"))
        .orderBy(col("part"), col("bin_idx"))
    }),

    // FIM (fill-in-the-middle, Bavarian et al. 2022 — PSM format):
    // the infilling-training transform — each document splits at
    // deterministic char points (1/3, 2/3) and reorders to
    // <PRE>prefix<SUF>suffix<MID>middle, so the model learns to
    // generate the middle conditioned on both sides. Pure whole-stage
    // codegen string arithmetic (substr on column-derived offsets,
    // one narrow scan, no shuffle); the oracle replays the identical
    // integer-division split math.
    "doc_fim_transform" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val len = length(col("text"))
      val c1 = (len / 3).cast("int")
      val c2 = (len * 2 / 3).cast("int")
      d.select(col("doc_id"),
          concat(
            lit("<PRE>"), col("text").substr(lit(1), c1),
            lit("<SUF>"), col("text").substr(c2 + 1, len - c2),
            lit("<MID>"), col("text").substr(c1 + 1, c2 - c1)).as("fim_text"),
          (c2 - c1).cast("long").as("n_mid_chars"))
        .orderBy(col("doc_id"))
    }),

    // SFT loss masking end-to-end (completion-only loss, the
    // InstructGPT-family convention): deterministic role-alternating
    // turns, each turn tokenized SEPARATELY through the ranked
    // byte-level kernel, framed by added-token role markers,
    // EOS-terminated, with the mask = 1 exactly on assistant-content
    // ids. The oracle rebuilds the turn table in SQL, replays the
    // gpt2 id machinery over it, and re-frames with the same special
    // ids (HF added-token convention: after the merge block).
    "seq_sft_mask" -> ((s, dir) => {
      graft.text.Sft.maskedTokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("loss_mask"), x => x === 1)).cast("long").as("n_loss"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"),
          md5(concat_ws(",", col("loss_mask"))).as("mask_md5"))
        .orderBy(col("doc_id"))
    }),

    // Byte-level train→APPLY end-to-end: the rounds learned over the
    // byte-level word table tokenize the extended corpus through the
    // shared word cache (distinct PRETOKENS, one combined fold per
    // round, positional rejoin) — case, punctuation, and emoji survive
    // into subwords the char-level path cannot produce.
    "doc_bpe_bytelevel_tokenize" -> ((s, dir) => {
      val d = extDocs(s, dir)
      val rounds = graft.text.Bpe.learnRoundsFrom(
          graft.text.ByteLevel.wordTable(d),
          rounds = 4, batchSize = 8, candCap = 128)
        .map(_.map(t => (t._1, t._2)))
      graft.text.ByteLevel.applyMergesGrouped(d, rounds)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }),

    // Phrase rewrite: top-20 adjacent-bigram collocations by PMI
    // (bounded driver artifact), then a narrow greedy fold merges each
    // occurrence into a single token — the word2vec phrase pass; the
    // md5 makes the rewrite byte-checkable against the oracle.
    "doc_phrase_rewrite" -> ((s, dir) => {
      // the phrase set is a persisted artifact (fingerprint sidecar,
      // build once / probe many): repeat rewrites pay the narrow fold
      // (~the corpus_split precedent), not the corpus-wide PMI derive
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_phrases_${dirKey(dir)}"
      TextAnalysis.ensurePhraseArtifact(s, docs(s, dir), artDir,
        minCount = 5L, topK = 20, broadcastUnigrams = true)
      TextAnalysis.phraseRewriteWithArtifact(s, docs(s, dir), artDir)
        .orderBy(col("doc_id"))
    }),

    // Hybrid sparse+dense retrieval with reciprocal-rank fusion: BM25
    // keyword candidates (corpus-scale stage, TakeOrdered), candidate
    // ids broadcast into the embedding scan (map-side semi — the
    // embedding table never shuffles), cosine rerank + integer-exact
    // RRF over the bounded candidate set.
    "doc_hybrid_rrf" -> ((s, dir) => {
      graft.ops.VectorSearch.hybridRrfRetrieve(
        docs(s, dir), emb(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    }),

    // BM25 retrieval: top-20 docs for a fixed query-term set. The
    // occurrence scan filters to the query terms before any shuffle,
    // df/length stats broadcast, TakeOrdered cuts the result; per-term
    // scores are micro-quantized so the per-doc integer sum is
    // aggregation-order-independent.
    "doc_bm25_top20" -> ((s, dir) => {
      TextAnalysis.bm25TopDocs(docs(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    }),

    // The same retrieval through the PERSISTED posting-list index
    // (build-once bucketed-by-token table, term-bucket-pruned probe) —
    // the text twin of the IVF build/probe split. Shares
    // doc_bm25_top20's oracle SQL verbatim: matching hashes prove the
    // indexed path equals the corpus-scan path.
    "doc_bm25_indexed" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      graft.text.InvertedIndex.bm25Search(s, s"graft_post_$key", stats,
        terms = Seq("spark", "join", "merge", "window"))
    }),

    // BATCHED BM25 — a whole query table served by ONE bucket-pruned
    // posting probe (the text-side twin of knn_hnsw_batch): three term
    // sets probe together, per-token df is computed once from the
    // union-probed occurrences, and each query's rows must equal its
    // single-query result bit-for-bit — the oracle replays every query
    // from scratch and unions them. At 100 TB this amortizes the probe
    // and df aggregation across the batch; per-query marginal cost is
    // a broadcast fan-out, not a scan.
    "doc_bm25_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      graft.text.InvertedIndex.bm25SearchBatch(s, s"graft_post_$key",
        s"$tmp/graft_postings_$key", Bm25BatchQueries, topN = 10)
    }),

    // BATCHED phrase search — N phrases served by ONE delta-aware
    // positional probe: the union of every phrase's terms bucket-prunes
    // a single postings read (materialized once, bounded by the probed
    // slice), and each phrase's adjacency intersection runs over that
    // frame. The oracle replays every phrase's token-slice definition
    // from scratch and unions them — a matching hash proves the shared
    // probe changes nothing.
    "doc_phrase_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.phraseSearchBatch(s, s"graft_pos_$key",
        s"$tmp/graft_positional_$key", PhraseBatchQueries)
    }),

    // Exact PHRASE search over a persisted positional index (IIR §2.4):
    // the i-th term's postings shift to pos−i and occurrences survive
    // the k-way (doc, start) equi-join — each term's leg is one pruned
    // bucket read, the corpus is never rescanned. Brute-force
    // token-slice oracle proves the index path equals the definition.
    "doc_phrase_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.phraseSearch(s, s"graft_pos_$key",
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // Proximity search over the same positional index: exact min token
    // gap between 'vector' and 'stream' per doc — any within-k
    // operator is a post-filter on this. Per-doc cost tf_a x tf_b.
    "doc_proximity_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.proximitySearch(s, s"graft_pos_$key",
          "vector", "stream")
        .orderBy(col("doc_id"))
    }),

    // BATCHED proximity — N term pairs through ONE delta-aware
    // positional probe (the fourth retrieval-batch leg): the union of
    // every pair's terms prunes one postings read, each pair's min-gap
    // join runs over that frame. Per-pair replay oracle.
    "doc_proximity_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.proximitySearchBatch(s, s"graft_pos_$key",
        s"$tmp/graft_positional_$key", ProximityBatchQueries)
    }),

    // BATCHED Hamming search — N query signatures through ONE pass
    // over the persisted 8-byte signature table (the binary rung of
    // the batch family, the SQ8 batch device): the scan computes N
    // bit_count columns into a narrow frame materialized once, then N
    // codegen TakeOrdered cuts. The oracle replays each query's
    // signature ranking relationally.
    "knn_hamming_batch" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          graft.index.Binary.signatureOf(r.getSeq[Float](1), thr)))
        .toIndexedSeq
      graft.index.Binary.hammingTopKBatch(
        graft.index.Binary.signaturesFromArtifact(s, artDir), queries, 10)
    }),

    // Substring (LIKE '%needle%') search via a persisted character-
    // trigram index (the pg_trgm device): AND-intersection of pruned
    // trigram buckets -> exact contains verification on candidates
    // only; occurrence counts by length arithmetic. The needle spans a
    // token boundary, which no token index could serve.
    // BATCHED substring search — N needles through ONE delta-aware
    // trigram probe and ONE corpus verification pass (the third leg of
    // the text-index batch family): the union of every needle's
    // trigrams prunes one postings read, each needle's
    // AND-intersection cuts candidates from that frame, and a single
    // normalized corpus join verifies every (needle, candidate) pair.
    // Per-needle replay oracle; the match-less needle contributes zero
    // rows on both engines.
    "doc_substring_batch" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      graft.text.InvertedIndex.substringSearchBatch(s, s"graft_tri_$key",
        s"$tmp/graft_trigram_$key", docs(s, dir), SubstringBatchQueries)
    }),

    "doc_substring_search" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      graft.text.InvertedIndex.substringSearch(s, s"graft_tri_$key",
          docs(s, dir), needle = "merge batch")
        .orderBy(col("doc_id"))
    }),

    // Johnson–Lindenstrauss sign projection 64 → 16 dims: a fixed
    // deterministic ±1 matrix (no RNG state), strictly left-associative
    // float64 folds micro-quantized per output dim — the oracle bakes
    // the identical sign literals, so all 16 projected coordinates of
    // every vector are hash-pinned. Narrow codegen arithmetic.
    "emb_project" -> ((s, dir) => {
      val cols = (0 until 16).map(i =>
        graft.functions.Projections.signProjectMicro(col("embedding"), i, EmbDim)
          .as(f"p$i%02d"))
      emb(s, dir).select((col("vec_id") +: cols): _*).orderBy(col("vec_id"))
    }),

    // Exact PCA (the optimal linear projection) next to emb_project's
    // SRP: the fit is one distributed moments pass (per-partition
    // (count, sum, gram) triples, O(d²) driver state), the eigen step
    // is d×d driver arithmetic, and projection is codegen literals.
    // Eigenvectors are not SQL-expressible, so the summary pins the
    // verifiable contract: orthonormal sign-fixed basis, descending
    // eigenvalues, the DISTRIBUTED projected variance matching each
    // eigenvalue (model ↔ data agreement), and capture strictly above
    // the uniform k/d fraction an arbitrary direction set gets on
    // isotropic data (measured 0.16–0.20 vs 0.125 across SFs).
    "emb_pca_check" -> ((s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val model = graft.ops.Pca.fit(corpus, k = 8)
      val orthonormal = model.basis.indices.forall { i =>
        model.basis.indices.forall { j =>
          val dot = model.basis(i).zip(model.basis(j)).map { case (x, y) => x * y }.sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
        }
      }
      val descending = model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12)
      val beatsUniform =
        model.varianceExplained > model.basis.length.toDouble / model.dim
      val vars = graft.ops.Pca.project(corpus, model)
        .agg(var_pop(col("pc0")).as("v"),
          (1 until 8).map(i => var_pop(col(s"pc$i")).as(s"v$i")): _*)
        .head()
      val projVarOk = model.eigenvalues.indices.forall { i =>
        math.abs(vars.getDouble(i) - model.eigenvalues(i)) /
          math.max(model.eigenvalues(i), 1e-12) < 1e-6
      }
      import s.implicits._
      Seq((model.dim.toLong, model.basis.length.toLong,
        if (orthonormal) 1L else 0L, if (descending) 1L else 0L,
        if (projVarOk) 1L else 0L, if (beatsUniform) 1L else 0L))
        .toDF("dim", "k", "orthonormal", "descending", "proj_var_ok", "beats_uniform")
    }),

    // Stream-static enrichment: the events FILE STREAM joined per
    // micro-batch against the small static customer dimension
    // (broadcast — the stream side never shuffles for the join), then a
    // complete-mode rollup per (nation, event_type) through the parquet
    // sink. The finished result must equal the batch join + group —
    // streaming and batch enrichment semantics agree on the same data.
    "stream_enrich" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      val counts = stream.join(broadcast(dim), "user_id")
        .groupBy(col("c_nationkey"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      runStreamToParquet(s, counts, outputMode = "complete",
          overwrite = true, tag = "stream_enrich")
        .orderBy(col("c_nationkey"), col("event_type"))
    }),

    // Stream-STREAM interval join: clicks joined to same-user purchases
    // within the following hour, both sides watermarked (the watermark
    // bounds the join state Spark must hold — without it a stream-stream
    // join buffers forever; with it, rows older than the watermark minus
    // the interval are evicted). Inner-join emission is watermark-
    // independent, and the file replay delivers everything in one batch,
    // so the finished result equals the batch interval join the oracle
    // runs.
    "stream_join" -> ((s, dir) => {
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
      runStreamToParquet(s, joined, outputMode = "append",
          overwrite = false, tag = "stream_join")
        .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
          unix_micros(col("cts")).as("click_us"),
          unix_micros(col("pts")).as("purchase_us"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // Custom-state streaming: sessionization via flatMapGroupsWithState
    // (event-time timeout, bounded per-user state). Emission semantics
    // are exactly replayable: a session closed by a later event of the
    // same user emits intra-batch; the final no-data micro-batch fires
    // the event-time timeout for trailing sessions whose end+gap is
    // strictly below the final watermark (= floor(max event us / 1000)
    // ms with a 0s delay). Session arithmetic is in MILLISECONDS
    // (Timestamp.getTime floors the micros) — the oracle mirrors the
    // floor division.
    "stream_sessions" -> ((s, dir) => {
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = fixEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val ev = stream.select(col("user_id"), col("ts"), col("event_type"))
        .as[graft.streaming.Sessionize.Event]
      val sess = graft.streaming.Sessionize.sessions(ev,
        gapMs = 1800000L, watermarkDelay = "0 seconds").toDF()
      runStreamToParquet(s, sess, outputMode = "append",
          overwrite = false, tag = "stream_sessions")
        .select(col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // O3 get: point lookup by id (reference vectordb.cpp:54-59) — the
    // filter pushes to the parquet scan.
    "vec_get" -> ((s, dir) => {
      VectorCrud.get(emb(s, dir), 42, idCol = "vec_id")
        .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
    }),

    // O5 delete: anti-filter by id (vectordb.cpp:74-80); checksum output.
    "vec_delete" -> ((s, dir) => {
      VectorCrud.delete(emb(s, dir), 42, idCol = "vec_id")
        .agg(count(lit(1)).as("n_rows"), sum(col("vec_id")).as("id_sum"))
    }),

    // O2 add: append a row with id = max+1 (the reference's nextId
    // contract, vectordb.cpp:38-52); checksum output.
    "vec_add" -> ((s, dir) => {
      val e = emb(s, dir)
      val newRow = e.agg((max(col("vec_id")) + 1).as("vec_id"))
        .withColumn("embedding", array_repeat(lit(0.0f), EmbDim))
        .withColumn("label", lit(-1))
      VectorCrud.add(e, newRow)
        .agg(count(lit(1)).as("n_rows"), max(col("vec_id")).as("max_id"))
    }),

    // O4 update: in-place replace by id via when/otherwise projection
    // (vectordb.cpp:61-72); window of ids around the change.
    "vec_update" -> ((s, dir) => {
      val updated = VectorCrud.update(
        emb(s, dir), 42,
        Map("embedding" -> array_repeat(lit(1.0f), EmbDim)),
        idCol = "vec_id")
      updated
        .filter(col("vec_id").between(40, 44))
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("e0"))
        .orderBy(col("vec_id"))
    }),

    // O1 init: create an empty fixed-dim database (vectordb.cpp:23-36),
    // reload it, report its observable state.
    "vec_init" -> ((s, _) => {
      val tmp = scratchDir("init")
      VectorStore.init(s, s"$tmp/db.json", EmbDim)
      val reloaded = VectorStore.load(s, s"$tmp/db.json")
      import s.implicits._
      Seq((reloaded.getDimensions.toLong, reloaded.toDF.count()))
        .toDF("dim", "n_vectors")
    }),

    // O10 getDimensions: schema introspection over the corpus
    // (vectordb.cpp:220-222).
    "vec_dims" -> ((s, dir) => {
      emb(s, dir).agg(max(size(col("embedding"))).as("dim"))
    }),

    // O8+O9 save/load: full envelope round-trip — corpus → reference
    // JSON envelope → back, then join against the original and count
    // any id/embedding mismatches (must be 0: float32→double→float32
    // widening is lossless).
    "envelope_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val orig = emb(s, dir)
        .select(col("vec_id").as("id"), col("embedding"),
          concat(lit("{\"label\": "), col("label"), lit("}")).as("metadata"))
        .as[VectorRecord]
      val tmp = scratchDir("env")
      Envelope.saveDataset(EmbDim, orig.count() + 1, orig, s"$tmp/db.json")
      val (_, _, loaded) = Envelope.loadDataset(s, s"$tmp/db.json").get
      val joined = loaded.toDF("id", "embedding2", "metadata2")
        .join(orig.toDF(), "id")
      joined.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("embedding") =!= col("embedding2"), 1L).otherwise(0L)).as("n_mismatch"))
    }),

    // ---- text analysis (charter LLM-pipeline extensions) ----

    // Token counting: whitespace + BPE-ish counts, length stats — a
    // narrow single-pass projection (no shuffle).
    "doc_token_stats" -> ((s, dir) => {
      TextAnalysis.docStats(docs(s, dir)).orderBy(col("doc_id"))
    }),

    // Quality scoring: length/diversity/stopword heuristic filter score.
    "doc_quality" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic: per-language marker-word hits + argmax.
    "doc_lang_id" -> ((s, dir) => {
      val scoreCols = TextAnalysis.langScores(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir)
        .select(col("doc_id") +: scoreCols :+ TextAnalysis.languageId(col("text")).as("lang_id"): _*)
        .orderBy(col("doc_id"))
    }),

    // PII scrubbing: the redaction pass a corpus runs before training.
    // The fixture has no organic PII, so every 7th doc gets a planted
    // email + phone suffix (identically in the oracle); the declared
    // output is the scrubbed-text md5 and the redaction count, so a
    // single missed or mangled replacement breaks the hash match.
    "doc_pii_scrub" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("txt",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(PiiSuffix)))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          md5(TextAnalysis.scrubPii(col("txt"))).as("scrub_md5"),
          TextAnalysis.piiCount(col("txt")).as("n_redactions"))
        .orderBy(col("doc_id"))
    }),

    // ORC sink/source roundtrip (the "other formats" row of SURVEY §2.4
    // — free via Spark's DataSource V2, demonstrated rather than
    // claimed): documents write to ORC and read back; the declared
    // output is an order-free content summary (counts, id/char sums,
    // xor of a 32-bit md5 deviate of the raw text) that the oracle
    // recomputes from the PARQUET original — any loss or corruption in
    // the ORC path breaks the hash match.
    "orc_roundtrip" -> ((s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"orcwork_p${ProcessHandle.current().pid()}") + "/docs"
      docs(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    }),

    // Hive-style partitioned layout: write events partitioned by type
    // once per process, then read ONE partition back — the filter
    // becomes a PartitionFilter (directory pruning: 1/|types| of the
    // bytes ever read, the same lever the IVF layout uses for cluster
    // probes, here as a first-class relational surface). Plan-audited
    // in PlanAuditSpec; checksum recomputed by the oracle from the
    // unpartitioned original.
    "events_partitioned_prune" -> ((s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"evpart_p${ProcessHandle.current().pid()}") + "/events"
      // _SUCCESS (written last) gates reuse, so a crashed partial write
      // is re-done rather than read
      if (!new java.io.File(s"$tmp/_SUCCESS").exists()) {
        events(s, dir)
          .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
          .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      }
      // checksum sums micros-within-second, not raw epoch micros: a sum
      // of ~1.7e15-scale epochs overflows Long past ~5k rows (ANSI mode
      // faults) — caught at sf0.1, sf0.01 squeaked under Long.Max
      s.read.parquet(tmp)
        .filter(col("event_type") === "click")
        .agg(
          count(lit(1)).as("n_clicks"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("ts_us") % 1000000L).cast("long").as("ts_sum"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
    }),

    // CSV sink/source path (the interchange format the parquet-native
    // stack still meets at ingest boundaries): write with an explicit
    // escape discipline, read back with a declared schema (no inference
    // pass — at 100 TB schema inference is a full extra scan), then the
    // same content checksum as orc_roundtrip, recomputed by the oracle
    // from the parquet original — a lossy writer, reader, or null/empty
    // conflation would shift it.
    "csv_roundtrip" -> ((s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"csvwork_p${ProcessHandle.current().pid()}") + "/docs"
      // explicit RFC-4180 escape (doubled quotes) on BOTH sides plus a
      // multiLine read: the default reader splits records on raw
      // newlines, so any document containing '\n' would break the
      // roundtrip silently (the fixture gap CsvNewlineSpec pins)
      docs(s, dir).write.mode("overwrite")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"")
        .csv(tmp)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"").option("multiLine", "true")
        .csv(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    }),

    // XML sink/source roundtrip (Spark 4 built-in xml datasource, the
    // spark-xml donation): events project to XML-safe scalars — the
    // double `value` quantizes to integer cents BEFORE the write so no
    // float ever round-trips through XML text formatting — written with
    // an explicit rowTag, read back with a DECLARED schema (no sampling
    // inference scan), and reduced to checksums the oracle replays from
    // the parquet the XML was derived from.
    "xml_roundtrip" -> ((s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"xmlwork_p${ProcessHandle.current().pid()}") + "/events"
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("value_cents"))
        .write.mode("overwrite")
        .option("rowTag", "event").option("rootTag", "events")
        .format("xml").save(tmp)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value_cents BIGINT")
        .option("rowTag", "event")
        .format("xml").load(tmp)
        .withColumn("h",
          conv(substring(md5(col("event_type")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"),
          sum(col("value_cents")).cast("long").as("cents_sum"),
          expr("bit_xor(h)").as("type_hash_xor"))
    }),

    // Gopher-style repetition signals: duplicate-n-gram and top-n-gram
    // occupancy fractions — the boilerplate/degenerate-loop filters that
    // complement the composite quality score. Per-row, no shuffle.
    "doc_repetition" -> ((s, dir) => {
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
    }),

    // Eval decontamination: corpus docs sharing ≥2 distinct 5-gram
    // shingles with a benchmark set (here: every 100th doc, re-keyed) —
    // the pre-training contamination sweep. Bucketed shared-shingle
    // join; the hot-shingle cap is computed on the corpus side.
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlap(d, bench, n = 5, minShared = 2L, maxShingleDf = 500L)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Bloom-prefiltered decontamination: same answer as `decontaminate`
    // (and the same oracle SQL — the hashes must agree), different
    // 100 TB shape: the bench shingle set broadcasts as BITS and kills
    // almost every corpus shingle map-side before any shuffle; the
    // exact bench join removes bloom false positives, and the
    // hot-shingle cap still sees exact corpus-wide counts because
    // bloom membership is a pure function of the shingle value.
    "decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlapBloom(d, bench, n = 5, minShared = 2L,
          maxShingleDf = 500L, fpp = 0.01)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Gopher-rule quality gate (Rae et al. §A1.1): the canonical
    // rule-based pretraining filter — word-count band, mean word
    // length, symbol ratio, bullet/ellipsis line fractions, alphabetic
    // word fraction, stopword floor. Narrow single-pass projection;
    // stats ship with the verdict so re-thresholding needs no rescan.
    "doc_gopher_filter" -> ((s, dir) => {
      TextAnalysis.gopherStats(docs(s, dir), minWords = 10L, maxWords = 100000L)
        .orderBy(col("doc_id"))
    }),

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
    "doc_c4_filter" -> ((s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "spark", "spark.\n"),
          when(col("doc_id") % 17 === 0, lit("\ncurly brace line {")).otherwise(lit("")),
          when(col("doc_id") % 23 === 0, lit("\nthis page has lorem ipsum filler"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.c4Filter(lined).orderBy(col("doc_id"))
    }),

    // CCNet perplexity bucketing (Wenzek et al. §4.3): per-source
    // head/middle/tail tiles by bigram-LM score. The Spark side computes
    // NTILE via the counting-sort decomposition (no per-source global
    // sort — the 100 TB shape); the oracle states plain NTILE.
    "doc_ppl_buckets" -> ((s, dir) => {
      TextAnalysis.perplexityBuckets(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    }),

    // Hashing-trick document embeddings: md5-bucketed token counts,
    // ±1-signed per (bucket, dim) by a runtime Knuth hash bit — a
    // model-free dense vector per doc in exact integer arithmetic,
    // feeding the ANN/dedup family. One explode + one doc-keyed agg.
    "doc_embed_hash" -> ((s, dir) => {
      TextAnalysis.hashedEmbedding(docs(s, dir), outDim = 16)
        .orderBy(col("doc_id"))
    }),

    // Misra-Gries heavy hitters over the token stream: the mergeable
    // O(capacity) frequent-items summary that finds hot keys without a
    // full groupBy. The summary's low-frequency survivors depend on
    // merge order, so the declared output is the deterministic
    // contract: exact row/hitter counts plus the guarantee flag (every
    // token with frequency > n/(capacity+1) is in the summary).
    "doc_token_hitters" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      graft.ops.HeavyHitters.heavyHitterCheck(toks, "tok", capacity = 30)
    }),

    // DSIR-style importance selection (Xie et al.): keep the 100 corpus
    // docs a target-domain bigram LM prefers most over the corpus's own
    // LM. The target model (the small curated side) broadcasts; both
    // likelihoods sum over the same gram multiset so the weight is the
    // exact quantized log-ratio; the cut is a TakeOrdered.
    "corpus_dsir_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val target = d.filter(col("doc_id") % 100 === 0)
      TextAnalysis.dsirSelect(d, target, topM = 100)
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: md5 content hash of normalized text.
    "doc_fingerprint" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF: top-3 terms per doc by quantized smoothed tf·idf.
    "doc_tfidf_top3" -> ((s, dir) => {
      TextAnalysis.tfIdfTopTerms(docs(s, dir), topN = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- dedup ----

    // Exact dedup summary: hash-groupBy over the md5 fingerprint.
    "doc_exact_dups" -> ((s, dir) => {
      val g = docs(s, dir)
        .select(TextAnalysis.fingerprintMd5(col("text")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      g.agg(
        sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    }),

    // Exact n-gram Jaccard near-dup pairs (shared-shingle candidate
    // join; shingles in >500 docs are dropped — the hot-key skew guard
    // that keeps the candidate join bounded at scale, mirrored in the
    // oracle SQL).
    "doc_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Duplicate-cluster closure: connected components over the exact
    // n-gram Jaccard pair graph (min-label propagation with pointer
    // jumping — O(log d) bucketed join rounds, no driver row traffic).
    // Pairs only say A~B; keep-one-per-group curation needs the
    // transitive closure, keyed by the component's minimum doc id.
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs)
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
        .orderBy(col("id"))
    }),

    // Chunk-level exact dedup (boilerplate removal): a 25-token
    // boilerplate paragraph is planted on every fifth doc, and the
    // operator must keep exactly one corpus-wide occurrence of every
    // repeated chunk and reassemble the survivors in document order.
    // The md5 of the reassembled text pins the whole reconstruction.
    "dedup_chunks" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(lit(ChunkBoilerplate + " "), col("text")))
          .otherwise(col("text")))
      Dedup.chunkDedup(planted, chunkTokens = 25)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // ExactSubstr-style duplicated-span fractions (Lee et al. ACL'22):
    // tokens covered by any 8-gram appearing verbatim in another doc,
    // overlapping spans merged before counting — duplication at every
    // alignment, where dedup_chunks only sees fixed chunk boundaries.
    // Position explode → bucketed gram agg → equi-join → per-doc
    // islands window; nothing all-pairs. 47/500 fixture docs carry
    // real cross-doc spans at sf0.01.
    "doc_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpans(docs(s, dir), n = 8).orderBy(col("doc_id"))
    }),

    // The removal half of ExactSubstr (Lee et al. cut the spans, not
    // just count them): every doc rewritten with its cross-document
    // duplicated 8-gram spans dropped — islands join back per doc and
    // drive an indexed HOF filter over the token array (narrow map, no
    // UDF). The md5 hash-match proves the rewrite byte-for-byte.
    "doc_dup_scrub" -> ((s, dir) => {
      Dedup.scrubDuplicatedSpans(docs(s, dir), n = 8)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH near-dup pairs (banded bucket join, then the EXACT
    // Jaccard filter on candidates). The oracle brute-forces the same
    // threshold set with a shared-shingle join: every qualifying pair at
    // sf0.01 sits at jaccard ≥ 0.9, where the 12×2 banding's candidate
    // recall is 1−(1−j²)^12 ≈ 1−2e-9 — and the fixed hash functions make
    // the output deterministic, verified equal to brute force.
    "dedup_minhash" -> ((s, dir) => {
      Dedup.minHashNearDups(docs(s, dir), maxJaccardDist = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup pairs (4×16-bit band join + hamming filter). The
    // md5 hash kind makes the 64-bit signature recomputable in SQL, and
    // the band join is pigeonhole-COMPLETE for hamming ≤ 3, so the
    // banded output provably equals the oracle's all-pairs brute force.
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simHashNearDups(docs(s, dir), maxHamming = 3, hashKind = "md5")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding-cosine near-dups via the SRP band join. The fixture
    // embeddings are near-orthogonal random vectors (max natural cosine
    // ≈ 0.51), so the query plants 20 exact duplicates (vec_id+1000000)
    // — the operator must surface exactly those pairs, and the oracle
    // recomputes them with a brute-force SQL join over the same planted
    // corpus.
    "emb_near_dups" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.embeddingNearDups(e.union(planted), minCosine = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Semantic decontamination: a synthetic "benchmark" of 15 copied
    // corpus vectors (vec_id<15 at +3000000) must be traced back to its
    // training-set origins by the cross-corpus SRP band join — exact
    // copies collide in every band, and the fixture has no natural
    // cross pair at cos ≥ 0.95 (same corpus as emb_near_dups).
    "decontaminate_semantic" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val benchmark = e.filter(col("vec_id") < 15)
        .withColumn("vec_id", col("vec_id") + lit(3000000L))
      Dedup.crossEmbeddingNearDups(e, benchmark, minCosine = 0.95)
        .orderBy(col("corpus_id"), col("probe_id"))
    }),

    // SemDeDup-style semantic dedup: k-means clusters scope the pair
    // search; exact copies (vec_id<30 planted at +2000000) are
    // guaranteed intra-cluster (identical input ⇒ identical argmin), so
    // the cluster-scoped search must equal the brute-force oracle: the
    // fixture has no natural pair at cos ≥ 0.99, and every planted pair
    // sits at cos = 1.
    "emb_semdedup" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + lit(2000000L))
      Dedup.semanticNearDups(e.union(planted), nClusters = 8, minCosine = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Winnowing partial-overlap pairs. The Karp-Rabin k-gram hashes are
    // Σ c_j·B^(k−1−j) mod 2^64 over UTF-16 units (ASCII fixture ⇒ code
    // points), and the fingerprint SET only needs window minima BY VALUE
    // (the rightmost-tie rule picks an index, not a value), so the whole
    // operator is recomputable in SQL with HUGEINT modular arithmetic.
    "dedup_winnow" -> ((s, dir) => {
      Dedup.winnowOverlapPairs(docs(s, dir), minShared = 3, maxFingerprintDf = 20L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity search ----

    // Brute-force cosine top-k (ANN baseline).
    "knn_cosine_top10" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.cosineTopKDf(corpus, query, k = 10)
    }),

    // IVF with an exhaustive probe (nprobe = nlist): partition-pruned
    // scan plus the exact kernel, so the result equals exact kNN and the
    // oracle can hash-match it. The index BUILD is not part of the query:
    // the partitioned layout + centroid sidecar persist under the temp
    // area and later invocations (bench iterations, reruns) only probe —
    // unlike the reference, which refits its index per query
    // (vectordb.cpp:216-217).
    "knn_ivf_top10" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val layout = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "full"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 8)
    }),

    // IVF with a REAL pruned probe (nprobe = 1 of 8): the corpus plants
    // ten exact copies of the query vector, so the true top-10 is the
    // dist-0 set (self + nine lowest-id copies), every member of which
    // the quantizer provably co-locates in the query's own cluster —
    // the pruned probe reads 1/8 of the data and still hash-matches the
    // brute-force exact oracle.
    "knn_ivf_pruned" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }),

    // IVF with an HNSW COARSE QUANTIZER (the FAISS IVF*_HNSW
    // composition): the probed clusters come from a graph walk over
    // the centroids instead of the linear argmin — the production
    // shape when nlist ~ 1M (sqrt-n lists over a 100 TB corpus) makes
    // the centroid scan itself the bottleneck. Same planted-copy
    // construction and the same partition-pruned nprobe=1 data scan as
    // knn_ivf_pruned; the graph must pick the identical top-1 cluster
    // for the hash to match.
    "knn_ivf_hnsw" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutHnswCoarse(s, layout, query, k = 10, nprobe = 1)
    }),

    // Spilled IVF (ScaNN-style multi-assignment): every row lands in
    // its 2 nearest inverted lists, so boundary-straddling neighbors
    // are findable at the SAME nprobe — 2× layout storage traded for
    // read-side recall (quantified in the bench recall report). The
    // planted dist-0 copies land top-1 in the query's own cluster, the
    // nprobe=1 probe finds them all, and multi-assignment duplicates
    // collapse before the heap — the result must hash-match the
    // brute-force oracle over the union corpus.
    "knn_ivf_spill_top10" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(3000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val index = graft.index.Ivf.fit(full, nlist = 8, maxIter = 3)
      val spilled = graft.index.Ivf.assignSpilled(index, full, spill = 2)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchSpilled(index, spilled, query, k = 10, nprobe = 1)
    }),

    // Hybrid (filtered) IVF probe: ten dist-0 copies of the query
    // planted WITH the target label fill the filtered top-10 and share
    // the probed cluster by construction, so the nprobe=1 pruned +
    // label-pushed scan must reproduce the brute-force filtered oracle.
    // IO is multiplicative: partition pruning × PushedFilters
    // (plan-audit-pinned).
    "knn_ivf_hybrid" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(5000000L)).as("vec_id"), col("embedding"),
          lit(3).as("label"))
      val full = corpus.select(col("vec_id"), col("embedding"), col("label"))
        .union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "hybrid"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutWhere(s, layout, query, k = 10, nprobe = 1,
          col("label") === 3)
        .select(col("vec_id"), col("dist"))
    }),

    // Incremental IVF maintenance (O2 add at the index level): ten exact
    // copies of the query append into a throwaway copy of the cached
    // base layout — assignByCentroids uses the probe's own double
    // arithmetic, so every appended copy provably lands in the probe's
    // top-1 cluster, and the nprobe=1 search of the appended layout must
    // reproduce the brute-force oracle over corpus ∪ appended. The
    // timing intentionally covers append + probe: append IS the
    // operator (the base build stays cached, like the other IVF rows).
    "knn_ivf_append" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val tmp = freshScratchDir(dir, "appendwork")
      copyDir(base.dir, tmp)
      val layout = graft.index.Ivf.loadLayout(tmp)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4000000L)).as("vec_id"), col("embedding"), col("label"))
      graft.index.Ivf.appendToLayout(layout, planted)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }),

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
    "stream_hnsw_append" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val p = hnswParams(corpus)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      graft.index.Hnsw.ensureLayout(corpus, baseDir, p)
      val scratch = freshScratchDir(dir, "streamhnsw")
      val layoutDir = s"$scratch/layout_root"
      copyDir(baseDir, layoutDir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4300000L)).as("vec_id"), col("embedding"))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("vec_id") < 4300005L),
        planted.filter(col("vec_id") >= 4300005L)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingHnswAppend(
        stream, layoutDir, s"$scratch/chk", p)
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_hnsw_append",
        q.recentProgress.iterator
          .map(pr => pr.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayoutDeltaAware(s, layoutDir, query, k = 10, p)
    }),

    // CDC mutation stream on the persisted IVF layout — the
    // GLOBAL-MASK variant of the mutation family (covered-leg revival
    // does not apply here; same-batch add+delete pairs net out, and
    // re-adding an earlier delete fails loudly via the append guard):
    // 15 planted copies stream in, a later batch deletes five of them
    // (tombstoning JUST-STREAMED delta rows — the interplay the delete
    // path documents), and the delta-aware pruned probe must equal
    // exact top-10 over the survivors — which the oracle rebuilds.
    "stream_ivf_delete" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val scratch = freshScratchDir(dir, "streamivfmut")
      val layoutDir = s"$scratch/layout"
      copyDir(base.dir, layoutDir)
      // add rows carry the layout's FULL base schema (incl. label)
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("vec_id"), col("embedding"), col("label"))
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(15))
        .select((col("id") + lit(5100000L)).as("vec_id"), col("embedding"),
          col("label"))
      val b0 = op("add")(planted)
      val b1 = op("del")(planted.filter(col("vec_id") < 5100005L))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingIvfMutations(
        stream, layoutDir, s"$scratch/chk")
      q.awaitTermination()
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutDeltaAware(s,
        graft.index.Ivf.loadLayout(layoutDir), query, k = 10, nprobe = 1)
    }),

    // CDC mutation stream on the sharded HNSW layout — the graph-index
    // leg of the global-mask variant: five planted copies stream in,
    // a later batch deletes two of them PLUS two base ids (a mixed
    // takedown), and the delta-aware probe must reproduce the
    // survivors-only brute force.
    "stream_hnsw_delete" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val p = hnswParams(corpus)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      graft.index.Hnsw.ensureLayout(corpus, baseDir, p)
      val scratch = freshScratchDir(dir, "streamhnswmut")
      val layoutDir = s"$scratch/layout_root"
      copyDir(baseDir, layoutDir)
      def op(o: String)(df: DataFrame): DataFrame =
        df.select(lit(o).as("op"), col("vec_id"), col("embedding"))
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(5200000L)).as("vec_id"), col("embedding"))
      val b0 = op("add")(planted)
      val b1 = op("del")(planted.filter(col("vec_id") < 5200002L))
        .unionAll(op("del")(corpus.filter(col("vec_id").isin(1L, 2L))
          .select(col("vec_id"), col("embedding"))))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingHnswMutations(
        stream, layoutDir, s"$scratch/chk", p)
      q.awaitTermination()
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayoutDeltaAware(s, layoutDir, query, k = 10, p)
    }),

    // Streaming SQ8 code-store maintenance — the quantized-vector leg
    // of the incremental-store family: new vectors encode under the
    // PERSISTED min/max model (the FAISS trained-index contract — the
    // quantizer never retrains per batch), land as tag-keyed delta
    // code dirs (idempotent under redelivery), the second batch trips
    // the maxDeltaDirs=1 auto-compaction (mergeable-fingerprint fold,
    // no source rescan), and the delta-aware ADC probe + exact rerank
    // over base ∪ live delta equals exact top-10 over the union —
    // which is exactly what the brute-force oracle computes.
    "stream_sq8_append" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val scratch = freshScratchDir(dir, "streamsq8")
      val codesDir = s"$scratch/sq8"
      copyDir(baseDir, codesDir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4400000L)).as("vec_id"), col("embedding"))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("vec_id") < 4400005L),
        planted.filter(col("vec_id") >= 4400005L)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingSq8Append(
        stream, codesDir, s"$scratch/chk", maxDeltaDirs = 1)
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_sq8_append",
        q.recentProgress.iterator
          .map(pr => pr.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      val model = graft.index.Sq.modelFromArtifact(s, codesDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, codesDir),
        corpus.select(col("vec_id"), col("embedding")).unionAll(planted),
        model, query, k = 10, shortlist = 200)
    }),

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
    "stream_bm25_append" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val scratch = freshScratchDir(dir, "streambm25")
      val idxDir = s"$scratch/postings"
      val table = s"graft_poststream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy (the stream_phrase_append device): build the
      // base ONCE in the per-sf location every BM25 query shares, copy
      // files, and let the sidecar tier re-register metadata-only — a
      // replay pays one dir copy, not a corpus-sized tokenize
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensure(s, corpus,
        s"graft_post_${dirKey(dir)}", s"$tmp/graft_postings_${dirKey(dir)}", buckets = 8)
      copyDir(s"$tmp/graft_postings_${dirKey(dir)}", idxDir)
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus.filter(col("doc_id") < 14)
        .select((col("doc_id") + lit(8000000L)).as("doc_id"), col("text"))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("doc_id") < 8000008L),
        planted.filter(col("doc_id") >= 8000008L && col("doc_id") < 8000012L),
        planted.filter(col("doc_id") >= 8000012L)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingPostingsAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_bm25_append",
        q.recentProgress.iterator
          .map(pr => pr.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    }),

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
    "stream_phrase_append" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val scratch = freshScratchDir(dir, "streamphrase")
      val idxDir = s"$scratch/positional"
      val table = s"graft_posstream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // build the base ONCE in the shared per-sf location (the same
      // artifact doc_phrase_search probes), copy files into the
      // scratch dir, and let the sidecar tier re-register over the
      // copy metadata-only — the stream_hnsw_append device: a replay
      // pays one dir copy, not a corpus-sized rebuild
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, corpus,
        s"graft_pos_${dirKey(dir)}", s"$tmp/graft_positional_${dirKey(dir)}", buckets = 8)
      copyDir(s"$tmp/graft_positional_${dirKey(dir)}", idxDir)
      graft.text.InvertedIndex.ensurePositional(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("hash join"))
        .orderBy(col("doc_id")).limit(12)
        .select((col("doc_id") + lit(8200000L)).as("doc_id"), col("text"))
        .localCheckpoint() // 12 rows; reused by the three batch writes
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("doc_id") % 3 === 0),
        planted.filter(col("doc_id") % 3 === 1),
        planted.filter(col("doc_id") % 3 === 2)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingPositionalAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_phrase_append",
        q.recentProgress.iterator
          .map(pr => pr.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      graft.text.InvertedIndex.phraseSearchDeltaAware(s, table, idxDir,
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // Streaming TRIGRAM-index maintenance — the substring-search leg,
    // completing the incremental protocol across all THREE text
    // indexes (BM25 postings, positional, trigram): planted docs
    // containing the needle re-land as three micro-batches of trigram
    // deltas (compaction at maxDeltaDirs=2), and the delta-aware probe
    // AND-intersects base ∪ live delta candidates before exact
    // verification over the union corpus. From-scratch contains-scan
    // oracle over documents ∪ planted.
    "stream_substring_append" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val scratch = freshScratchDir(dir, "streamtri")
      val idxDir = s"$scratch/trigram"
      val table = s"graft_tristream_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy (see stream_phrase_append): the trigram base
      // is the expensive one (~10x token posting volume) — a fresh
      // per-replay build measured 18 s at sf0.1 vs ~2 s copied
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, corpus,
        s"graft_tri_${dirKey(dir)}", s"$tmp/graft_trigram_${dirKey(dir)}", buckets = 8)
      copyDir(s"$tmp/graft_trigram_${dirKey(dir)}", idxDir)
      graft.text.InvertedIndex.ensureTrigram(s, corpus, table, idxDir, buckets = 8)
      val planted = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("merge batch"))
        .orderBy(col("doc_id")).limit(12)
        .select((col("doc_id") + lit(8300000L)).as("doc_id"), col("text"))
        .localCheckpoint() // ≤ 12 rows; reused by the three batch writes
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("doc_id") % 3 === 0),
        planted.filter(col("doc_id") % 3 === 1),
        planted.filter(col("doc_id") % 3 === 2)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingTrigramAppend(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_substring_append",
        q.recentProgress.iterator
          .map(pr => pr.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      graft.text.InvertedIndex.substringSearchDeltaAware(s, table, idxDir,
          corpus.unionAll(planted), needle = "merge batch")
        .orderBy(col("doc_id"))
    }),

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
    "stream_bm25_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val scratch = freshScratchDir(dir, "streambm25mut")
      val idxDir = s"$scratch/postings"
      val table = s"graft_postmut_${dirKey(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $table") // stale catalog entry from a prior replay
      // shared-base copy — see stream_bm25_append
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensure(s, corpus,
        s"graft_post_${dirKey(dir)}", s"$tmp/graft_postings_${dirKey(dir)}", buckets = 8)
      copyDir(s"$tmp/graft_postings_${dirKey(dir)}", idxDir)
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
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1, b2, b3))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingPostingsMutations(
        stream, table, idxDir, s"$scratch/chk", buckets = 8, maxDeltaDirs = 2)
      q.awaitTermination()
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    }),

    // CDC mutation stream on the SQ8 code store — the vector-side twin:
    // the query's three nearest non-self neighbors arrive as a delete
    // batch (with one just-streamed planted copy), the nearest is
    // revived by a later batch, and the final batch trips compaction
    // (physical drop + tombstone consumption under the untouched
    // quantizer). Masked delta-aware ADC + exact rerank must equal
    // exact top-10 over the survivor corpus — which the oracle
    // rebuilds from scratch.
    "stream_sq8_delete" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val scratch = freshScratchDir(dir, "streamsq8mut")
      val codesDir = s"$scratch/sq8"
      copyDir(baseDir, codesDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
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
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1, b2, b3))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingSq8Mutations(
        stream, codesDir, s"$scratch/chk", maxDeltaDirs = 2)
      q.awaitTermination()
      val model = graft.index.Sq.modelFromArtifact(s, codesDir)
      val live = base2
        .filter(!col("vec_id").isin(delIds.tail: _*))
        .unionAll(planted.filter(col("vec_id") =!= 4800001L))
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, codesDir), live, model, query,
        k = 10, shortlist = 1000)
    }),

    // CROSS-STORE TAKEDOWN AUDIT — the GDPR driver: ONE victim row set
    // scrubs every text index in a loop over stores (deleteDocs is one
    // implementation for all three families), and the audit asserts
    // the honest residual — the doc's posting-row count over each
    // store's PROBED view (base ∪ deltas − tombstones) — is exactly
    // zero, with had_rows proving the doc was indexed before the
    // takedown. The verdict is constant, so the oracle pins it. Cost
    // per store: one batch-sized tombstone write, never an index scan.
    "takedown_all_stores" -> ((s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stores = Seq(
        ("bm25", s"graft_bm25del_$key", s"$tmp/graft_bm25del_$key"),
        ("positional", s"graft_posdel_$key", s"$tmp/graft_posdel_$key"),
        ("trigram", s"graft_tridel_$key", s"$tmp/graft_tridel_$key"))
      graft.text.InvertedIndex.ensure(s, corpus, stores(0)._2, stores(0)._3, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(s, corpus, stores(1)._2, stores(1)._3, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(s, corpus, stores(2)._2, stores(2)._3, buckets = 8)
      stores.foreach(st => graft.text.InvertedIndex.dropMutations(st._3)) // replay determinism
      val victim = corpus.filter(col("doc_id") === 6L)
      val before = stores.map(st =>
        graft.text.InvertedIndex.docResidual(s, st._2, st._3, 6L))
      stores.foreach(st =>
        graft.text.InvertedIndex.deleteDocs(s, st._3, victim, tag = "gdpr"))
      val after = stores.map(st =>
        graft.text.InvertedIndex.docResidual(s, st._2, st._3, 6L))
      stores.map(_._1).zip(before.zip(after)).map { case (name, (b, a)) =>
        (name, if (b > 0) 1L else 0L, a)
      }.toDF("store", "had_rows", "residual_rows").orderBy(col("store"))
    }),

    // CRASH-RESUMABLE TAKEDOWN JOURNAL (r16 VERDICT task 3): the
    // cross-store takedown persists its INTENT (victim rows + target
    // store list) before the first per-store commit, marks each
    // store's completion, and replays incomplete journals
    // idempotently. The scripted lifecycle: three text stores, a
    // takedown that CRASHES after store 1 of 3 (injected), then
    // resumeAll completes the rest — the zero-residual audit now
    // covers the RESUMED path. Per store: had_rows before, whether it
    // was scrubbed before the crash, residual after resume, and the
    // journal-recovery verdict.
    "takedown_journal" -> ((s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      // the shared per-sf text stores (content-hash ensure reuses the
      // build across invocations; the leading dropMutations reset is
      // the club's replay-determinism contract) — only the JOURNAL is
      // scratch-fresh per run
      val tmp = System.getProperty("java.io.tmpdir")
      val targets = Seq(
        graft.ops.Takedown.Target(
          "bm25", s"graft_bm25del_$key", s"$tmp/graft_bm25del_$key"),
        graft.ops.Takedown.Target(
          "positional", s"graft_posdel_$key", s"$tmp/graft_posdel_$key"),
        graft.ops.Takedown.Target(
          "trigram", s"graft_tridel_$key", s"$tmp/graft_tridel_$key"))
      graft.text.InvertedIndex.ensure(
        s, corpus, targets(0).table, targets(0).dir, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(
        s, corpus, targets(1).table, targets(1).dir, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(
        s, corpus, targets(2).table, targets(2).dir, buckets = 8)
      targets.foreach(t =>
        graft.text.InvertedIndex.dropMutations(t.dir)) // replay determinism
      val scratch = freshScratchDir(dir, "tdjq")
      val victims = corpus.filter(col("doc_id") === 6L)
      val journal = s"$scratch/journal"
      def residual(t: graft.ops.Takedown.Target): Long =
        graft.text.InvertedIndex.docResidual(s, t.table, t.dir, 6L)
      val hadRows = targets.map(residual(_) > 0L)
      val crashed = try {
        graft.ops.Takedown.takedown(
          s, journal, "gdpr1", victims, targets, failAfterStores = 1)
        false
      } catch {
        case e: IllegalStateException if e.getMessage.contains("injected crash") =>
          true
      }
      val mid = targets.map(residual)
      val pendingSeen = graft.ops.Takedown.pending(journal) == Seq("gdpr1")
      val resumedOk =
        graft.ops.Takedown.resumeAll(s, journal) == Seq("gdpr1" -> 2)
      val after = targets.map(residual)
      val recovered = crashed && pendingSeen && resumedOk &&
        graft.ops.Takedown.readJournal(journal, "gdpr1").isComplete &&
        graft.ops.Takedown.pending(journal).isEmpty
      targets.zipWithIndex.map { case (t, i) =>
        (t.kind,
          if (hadRows(i)) 1L else 0L,
          if (mid(i) == 0L) 1L else 0L,
          after(i),
          if (recovered) 1L else 0L)
      }.toDF("store", "had_rows", "scrubbed_before_resume",
        "residual_after_resume", "journal_recovered")
        .orderBy(col("store"))
    }),

    // Vector-side DESCRIBE INDEX — the SQ8 store's introspection
    // surface after a scripted lifecycle (one append delta, one delete
    // batch): committed version, live mutation legs, and the
    // delta-aware live code count the next ADC probe will scan. The
    // oracle recomputes n_codes from the corpus definition.
    "sq8_store_describe" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val key = dirKey(dir)
      val sqDir = s"${System.getProperty("java.io.tmpdir")}/graft_sq8del_$key"
      graft.index.Sq.ensureCodesArtifact(corpus, sqDir)
      graft.index.Sq.dropMutations(sqDir) // replay determinism
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(5300000L)).as("vec_id"), col("embedding"))
      graft.index.Sq.appendDelta(s, sqDir, planted, tag = "a1")
      graft.index.Sq.deleteVectors(s, sqDir,
        corpus.filter(col("vec_id").isin(7L, 8L)), tag = "d1")
      graft.index.Sq.describeStore(s, sqDir).orderBy(col("metric"))
    }),

    // STORE INTROSPECTION — the engine's DESCRIBE INDEX: after a
    // scripted mutation lifecycle (one append delta, one delete batch)
    // the describe row set must report the committed version, the live
    // mutation legs, and the MERGED delta-aware corpus stats — the
    // exact numbers the next BM25 probe scores with. The oracle
    // recomputes n_docs/sum_dl from the survivor corpus definition, so
    // a matching hash proves the introspection surface is wired to the
    // same arithmetic as the probes, not to file counts.
    "store_describe" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_descr_$key"
      val table = s"graft_descr_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      val planted = corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + lit(8600000L)).as("doc_id"), col("text"))
      graft.text.InvertedIndex.appendDelta(s, idxDir, planted, tag = "a1")
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(3L, 4L)), tag = "d1")
      graft.text.InvertedIndex.describeStore(s, idxDir).orderBy(col("metric"))
    }),

    // TAKEDOWN (GDPR / opt-out / contaminated-source) leg for the BM25
    // posting store — the reference treats delete as first-class (O5,
    // /root/reference/src/vectordb.cpp:74-80); this extends it to the
    // incremental text indexes. A delete batch is a tag-keyed
    // tombstone (batch-sized tokenize + two tiny writes — never an
    // index scan) recording the legs it covers; the delta-aware probe
    // masks each leg with only its covering tombstones, so the doc
    // re-appended UNDER A LATER TAG revives — the delete/append
    // ordering a global mask would get wrong. The oracle is a
    // from-scratch BM25 over documents minus the net-deleted docs, so
    // a matching hash proves deletion, revival ordering, and the
    // nDocs/sumDl stat decrements all exact.
    "doc_bm25_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25del_$key"
      val table = s"graft_bm25del_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      // replay determinism: a re-run must not see the previous run's
      // re-append delta among the tombstone's covered legs
      graft.text.InvertedIndex.dropMutations(idxDir)
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(2L, 7L, 12L)), tag = "del")
      graft.text.InvertedIndex.appendDelta(s, idxDir,
        corpus.filter(col("doc_id") === 7L), tag = "re")
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    }),

    // Takedown leg for the POSITIONAL index: the two lowest-id docs
    // containing the probe phrase are deleted, the second re-appended
    // under a later tag (revival), and the delta-aware phrase probe
    // must reproduce a from-scratch token-slice scan over documents
    // minus the net-deleted doc.
    "doc_phrase_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_posdel_$key"
      val table = s"graft_posdel_$key"
      graft.text.InvertedIndex.ensurePositional(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      // bounded: exactly two ids come back to the driver
      val ids = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("hash join"))
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(ids: _*)), tag = "del")
      graft.text.InvertedIndex.appendPositionalDelta(s, idxDir,
        corpus.filter(col("doc_id") === ids.last), tag = "re")
      graft.text.InvertedIndex.phraseSearchDeltaAware(s, table, idxDir,
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }),

    // Takedown leg for the TRIGRAM (substring) index — same shape; the
    // exact-verify stage runs over the post-delete corpus, so both the
    // candidate masking and the verification see the deletion.
    "doc_substring_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_tridel_$key"
      val table = s"graft_tridel_$key"
      graft.text.InvertedIndex.ensureTrigram(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      val ids = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("merge batch"))
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(ids: _*)), tag = "del")
      graft.text.InvertedIndex.appendTrigramDelta(s, idxDir,
        corpus.filter(col("doc_id") === ids.last), tag = "re")
      graft.text.InvertedIndex.substringSearchDeltaAware(s, table, idxDir,
          corpus.filter(col("doc_id") =!= ids.head), needle = "merge batch")
        .orderBy(col("doc_id"))
    }),

    // TAKEDOWN on the incremental exact-dedup HASH STORE: a scrubbed
    // document's content hash is derived data and must go too (the
    // GDPR leg of the dedup story — without it a re-crawl of deleted
    // content is wrongly suppressed as "already seen"). The two
    // lowest-id UNIQUE-content docs anchor the scenario: the first is
    // taken down (its (h, first_id) pair tombstoned — covered legs =
    // base + live deltas, one batch-sized write), then a later batch
    // re-crawls both contents — the deleted one must report NOVEL and
    // re-enter the store (its new delta leg is not covered), the live
    // one must dedupe against its original owner — and a second batch
    // must dedupe the re-crawled content against its NEW owner. The
    // oracle derives the same verdicts relationally from documents.
    "dedup_store_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_hashdel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureHashStore(s, corpus, store)
      graft.dedup.Dedup.dropHashStoreMutations(store) // replay determinism
      // bounded: exactly two (id, text) rows come back
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.text.TextAnalysis.normalizeText(col("text")))
      val uniq = corpus
        .withColumn("_c", count(lit(1)).over(w))
        .filter(col("_c") === 1)
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id"), col("text")).collect()
      val (delId, delText) = (uniq(0).getLong(0), uniq(0).getString(1))
      val (keepId, keepText) = (uniq(1).getLong(0), uniq(1).getString(1))
      graft.dedup.Dedup.deleteFromHashStore(s, store,
        corpus.filter(col("doc_id") === delId), tag = "del")
      import s.implicits._
      val v1 = graft.dedup.Dedup.incrementalDedupBatch(s, store,
        Seq((9100000L + delId, delText), (9100000L + keepId, keepText))
          .toDF("doc_id", "text"),
        batchTag = Some("re"))
      val v2 = graft.dedup.Dedup.incrementalDedupBatch(s, store,
        Seq((9200000L + delId, delText)).toDF("doc_id", "text"),
        batchTag = Some("re2"))
      v1.unionAll(v2).orderBy(col("doc_id"))
    }),

    // TAKEDOWN on the incremental NEAR-dup shingle store — the scrubbed
    // doc's shingle postings and size row are derived data too. Doc 0
    // (always store-resident: store = doc_id % 3 == 0) is taken down;
    // a re-crawl of its text must match only the SURVIVING near-dups
    // (or report novel), a control probe of doc 3's text must keep
    // matching, and after the novel re-crawl re-enters the store a
    // second re-crawl must near-dup against the NEW owner at exact
    // Jaccard 0. The oracle replays every branch relationally over
    // documents (including the data-dependent "was the first re-crawl
    // novel" split).
    "neardup_store_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sheddel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureShingleStore(
        s, corpus.filter(col("doc_id") % 3 === 0), store)
      graft.dedup.Dedup.dropShingleStoreMutations(store) // replay determinism
      import s.implicits._
      graft.dedup.Dedup.deleteFromShingleStore(
        s, store, Seq(0L).toDF("doc_id"), tag = "del")
      // bounded: two texts come back to build the probe batches
      val text0 = corpus.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0)
      val text3 = corpus.filter(col("doc_id") === 3L)
        .select(col("text")).head().getString(0)
      val v1 = graft.dedup.Dedup.incrementalNearDupBatch(s, store,
        Seq((9300000L, text0), (9300003L, text3)).toDF("doc_id", "text"),
        batchTag = "re")
      val v2 = graft.dedup.Dedup.incrementalNearDupBatch(s, store,
        Seq((9400000L, text0)).toDF("doc_id", "text"), batchTag = "re2")
      v1.unionAll(v2).orderBy(col("doc_id"))
    }),

    // TAKEDOWN on the persisted FUZZY SIGNATURE store — the entity-
    // resolution leg of the derived-data scrub: customer 3's deletion-
    // neighborhood postings are tombstoned, and a resolve batch
    // carrying the EXACT names of customers 3 and 6 must fall through
    // to the best SURVIVING match for 3 (an ed-1 neighbor, relational
    // min over (dist, id)) while 6 keeps resolving exactly — with the
    // in-batch leg (earlier batch rows are candidates too) replayed by
    // the oracle verbatim.
    "fuzzy_store_delete" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_fuzzdel_${dirKey(dir)}"
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), store, "c_custkey", "c_name")
      graft.ops.FuzzyJoin.dropFuzzyStoreMutations(store) // replay determinism
      import s.implicits._
      graft.ops.FuzzyJoin.deleteFromFuzzyStore(s, store,
        Seq(3L).toDF("store_id"), tag = "del")
      val batch = cust.filter(col("c_custkey").isin(3L, 6L))
        .select((col("c_custkey") + lit(9500000L)).as("id"),
          col("c_name").as("name"))
      graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, store, batch,
          "id", "name", batchTag = Some("re"))
        .orderBy(col("id"))
    }),

    // TAKEDOWN on the perceptual SIGNATURE store (the media leg of the
    // derived-data scrub, exercised over the embedding midrange
    // signatures so the oracle shares the hammingSigCtes machinery):
    // the store holds the %3 corpus signatures, the self signature
    // (s_id 0) is tombstoned, and a re-ingest of vec 0's signature
    // must match only the SURVIVING nearest (min (hamming, id) within
    // ≤ 3) or report novel — the oracle replays the masked ranking.
    "sigstore_delete" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val sigs = graft.index.Binary.signatures(e, thr)
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sigdel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureSigStore(s,
        sigs.filter(col("vec_id") % 3 === 0), store, idCol = "vec_id")
      graft.dedup.Dedup.dropSigStoreMutations(store) // replay determinism
      import s.implicits._
      graft.dedup.Dedup.deleteFromSigStore(s, store,
        Seq(0L).toDF("s_id"), tag = "del")
      val batch = sigs.filter(col("vec_id") === 0)
        .select((col("vec_id") + lit(9600000L)).as("vec_id"), col("sig"))
      graft.dedup.Dedup.incrementalSigDedupBatch(s, store, batch,
        batchTag = "re", maxHamming = 3, idCol = "vec_id")
    }),

    // CDC mutation stream on the incremental EXACT-DEDUP HASH STORE
    // (r14 VERDICT task 4) — one (op, doc_id, text) feed drives the
    // full derived-store lifecycle: a dup re-crawl, a SAME-BATCH
    // takedown + re-crawl (covered-leg upsert: the add wins and
    // becomes the content's new owner), a later re-crawl deduping to
    // that new owner ACROSS the auto-compaction (which physically
    // drops the tombstoned pair and folds the new one in), and a final
    // re-crawl off the compacted base. The oracle replays every
    // verdict relationally from documents.
    "stream_dedup_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val seed =
        s"${System.getProperty("java.io.tmpdir")}/graft_hashmut_${dirKey(dir)}"
      graft.dedup.Dedup.ensureHashStore(s, corpus, seed)
      val scratch = freshScratchDir(dir, "streamdedupmut")
      val store = s"$scratch/store"
      copyDir(seed, store)
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
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1, b2, b3))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingDedupMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk", maxDeltaDirs = 2)
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("doc_id"))
    }),

    // CDC mutation stream on the FUZZY SIGNATURE STORE — the
    // entity-resolution twin: registry id 3 is taken down in the SAME
    // batch a fresh name within its old neighborhood streams in (the
    // add reports NOVEL — upsert), later re-crawls of that name
    // resolve to the NEW owner across the auto-compaction. Names are
    // the registry name + 'X' (edit distance ≥ 2 from every surviving
    // fixed-format customer name, exactly 1 from the masked one), so
    // every verdict is a constant the oracle pins.
    "stream_fuzzy_delete" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val seed =
        s"${System.getProperty("java.io.tmpdir")}/graft_fuzzmut_${dirKey(dir)}"
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), seed, "c_custkey", "c_name")
      val scratch = freshScratchDir(dir, "streamfuzzymut")
      val store = s"$scratch/store"
      copyDir(seed, store)
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
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1, b2, b3))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingFuzzyMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk",
        idCol = "id", nameCol = "name", maxDeltaDirs = 2)
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("id"))
    }),

    // CDC mutation stream on the NEAR-DUP SHINGLE STORE — the Jaccard
    // twin: doc 0 is taken down in the SAME batch a re-crawl of its
    // text streams in (covered-leg upsert; whether the re-crawl is
    // NOVEL depends on whether any surviving %3 doc is within Jaccard
    // 0.5 of text0 — a data fact the oracle replays relationally,
    // including the downstream consequences for the later re-crawls
    // across the auto-compaction).
    "stream_neardup_delete" -> ((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val seed =
        s"${System.getProperty("java.io.tmpdir")}/graft_shedmut_${dirKey(dir)}"
      graft.dedup.Dedup.ensureShingleStore(
        s, corpus.filter(col("doc_id") % 3 === 0), seed)
      val scratch = freshScratchDir(dir, "streamneardupmut")
      val store = s"$scratch/store"
      copyDir(seed, store)
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
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(b0, b1, b2, b3))
      val stream = s.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingNearDupMutations(
        stream, store, s"$scratch/sink", s"$scratch/chk", maxDeltaDirs = 2)
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .orderBy(col("doc_id"))
    }),

    "stream_ivf_append" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val scratch = freshScratchDir(dir, "streamappend")
      val layoutDir = s"$scratch/layout"
      copyDir(base.dir, layoutDir)
      val layout = graft.index.Ivf.loadLayout(layoutDir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4200000L)).as("vec_id"),
          col("embedding"), col("label"))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        planted.filter(col("vec_id") < 4200005L),
        planted.filter(col("vec_id") >= 4200005L)))
      val stream = s.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingIvfAppend(
        stream, layoutDir, s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_ivf_append",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutDeltaAware(s, layout, query, k = 10, nprobe = 1)
    }),

    // Index-maintenance DELETE (the triad's third leg, and the
    // reference behavior we deliberately DON'T reproduce: its HNSW
    // serves deleted ids until a manual rebuild — SURVEY §5). 15 copies
    // of the query vector appended, 5 tombstoned; the nprobe=1 probe
    // must return only live rows: the query's own cluster holds 11
    // dist-0 rows after the delete, so the layout top-10 equals the
    // global brute force the oracle runs over corpus ∪ planted \ deleted.
    "knn_ivf_delete" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val tmp = freshScratchDir(dir, "deletework")
      copyDir(base.dir, tmp)
      val layout = graft.index.Ivf.loadLayout(tmp)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(15))
        .select((col("id") + lit(4100000L)).as("vec_id"), col("embedding"), col("label"))
      graft.index.Ivf.appendToLayout(layout, planted)
      graft.index.Ivf.deleteFromLayout(layout,
        s.range(5).select((col("id") + lit(4100000L)).as("vec_id")))
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }),

    // Product quantization + exact re-rank: the corpus is compressed to
    // 8 one-byte codes per vector (32× smaller — the memory-side scale
    // path for 100 TB ANN), ADC scans the codes for a 200-candidate
    // shortlist, and the exact kernel re-ranks the shortlist. With the
    // true neighbours inside the shortlist the result EQUALS exact
    // top-10, so the brute-force oracle hash-matches it. Codebooks are
    // memoized per scale factor (build once, query many).
    "knn_pq_rerank" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (cb, enc) = pqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // shortlist 1000: at sf0.1 the corpus is 10x sf0.01 and a 200-code
      // ADC shortlist started missing true top-10 neighbors (caught by a
      // full sf0.1 oracle sweep); the shortlist must grow with the
      // corpus for the rerank-equals-exact contract to hold
      graft.index.Pq.searchRerank(enc, corpus, cb, query, k = 10, shortlist = 1000)
    }),

    // OPQ (learned-rotation PQ, Ge et al. CVPR'13) + re-rank: same code
    // size and ADC scan as knn_pq_rerank, but the rotation re-balances
    // subspace variance so the raw ADC ordering recalls more of the
    // true top-k wherever the corpus has correlation structure to
    // exploit (measured, bench recall report: 0.37 → 0.51 at sf0.001;
    // 0.37 → 0.40 at the more isotropic sf0.1 — never below plain PQ).
    // Same 1000-code shortlist policy; rerank-equals-exact is
    // oracle-verified at 1×/10×/100× corpus (sf0.001/0.01/0.1), so it
    // shares the brute-force oracle.
    "knn_opq_rerank" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = opqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Pq.rerankShortlist(
        graft.index.Pq.searchOpq(enc, model, query, k = 1000),
        corpus, query, k = 10)
    }),

    // Scalar quantization (SQ8) + exact re-rank: the 4×-compression
    // rung of the quantization ladder (1-bit 64× < PQ/OPQ 32× < SQ8 4×
    // < exact) — per-dimension min/max linear byte codes, ADC scan
    // through the SAME codegen table-lookup kernel as PQ (m = dim,
    // k = 256), exact re-rank of the shortlist. SQ8's distortion is
    // low enough (measured recall: bench `sq8_adc_at10`) that a small
    // shortlist recovers exact top-10, so it shares the brute-force
    // oracle. The fit is ONE exact distributed min/max aggregation —
    // seedless, sampleless, bit-reproducible.
    "knn_sq8_rerank" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = sqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Sq.searchRerank(enc, corpus, model, query, k = 10,
        shortlist = 200)
    }),

    // TAKEDOWN leg for the persisted SQ8 code store (the reference's
    // O5 extended to the quantized index): the query's three nearest
    // non-self neighbors are tombstoned (tag-keyed batch write, codes
    // untouched, model untouched — the trained-index contract), five
    // planted copies of the query append UNDER A LATER TAG (so the
    // tombstone does not cover them), and the masked delta-aware ADC +
    // exact rerank must equal exact top-10 over the post-delete ∪
    // planted corpus — which is precisely what the oracle rebuilds
    // from scratch.
    "knn_sq8_delete" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val key = dirKey(dir)
      val sqDir = s"${System.getProperty("java.io.tmpdir")}/graft_sq8del_$key"
      graft.index.Sq.ensureCodesArtifact(corpus, sqDir)
      graft.index.Sq.dropMutations(sqDir) // replay determinism
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // bounded: the exact top-4 comes back, self drops out -> 3 ids
      val delIds = VectorSearch.knnExact(corpus, query.toSeq, 4)
        .select(col("vec_id")).collect().map(_.getLong(0))
        .filter(_ != 0L).toIndexedSeq
      graft.index.Sq.deleteVectors(s, sqDir,
        corpus.filter(col("vec_id").isin(delIds: _*)), tag = "del")
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(4600000L)).as("vec_id"), col("embedding"))
      graft.index.Sq.appendDelta(s, sqDir, planted, tag = "re")
      val model = graft.index.Sq.modelFromArtifact(s, sqDir)
      val live = corpus.select(col("vec_id"), col("embedding"))
        .filter(!col("vec_id").isin(delIds: _*))
        .unionAll(planted)
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, sqDir), live, model, query,
        k = 10, shortlist = 1000)
    }),

    // Recall-targeted index selection ("give me ≥0.9 recall@10 at
    // minimum probe cost"): AnnSelector MEASURES the recall/scan-cost
    // frontier of every approximate config (LSH, pruned IVF at several
    // nprobe, spill-2) against a distributed exact ground truth, then
    // picks the cheapest config clearing the target — the accuracy
    // envelope the reference's fixed HNSW(16,200,200) parameters give
    // implicitly, made explicit and measured. The summary row pins the
    // contract: k rows returned, the self-query found at rank 1 (an
    // exact copy is a guaranteed candidate under every config), the
    // selected config's measured recall clears 0.9, and its measured
    // scan cost is strictly below the exact scan. Bucket/probe choices
    // are not SQL-expressible, so the oracle pins the invariant
    // constants (same device as knn_lsh_check).
    "knn_at_recall" -> ((s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      // the frontier measurement (ground truth + every config's probe)
      // is a BUILD step like the PQ/IVF fits: seeded and deterministic,
      // so it memoizes per sf-dir — repeat queries pay one bounded
      // search under the already-selected config, not a re-measurement
      val (lshModel, ivfIndex, frontier) = selectorCache.computeIfAbsent(dir, { _ =>
        val b = graft.index.AnnSelector.build(corpus, nQueries = 10, k = 10, nlist = 8)
        try (b.lshModel, b.ivfIndex, b.frontier) finally b.release()
      })
      val built = graft.index.AnnSelector.fromParts(corpus, lshModel, ivfIndex, frontier)
      val point = graft.index.AnnSelector.select(built, 0.9)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.AnnSelector.search(built, corpus, point, query, k = 10)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("vec_id") === 0 && col("dist") === 0.0, 1L).otherwise(0L))
            .as("self_found"))
        .select(col("n_rows"), col("self_found"),
          lit(if (point.recall >= 0.9) 1L else 0L).as("recall_ok"),
          lit(if (point.scanFrac < 1.0) 1L else 0L).as("cheaper"))
    }),

    // The nprobe RECALL CURVE, measured and selected over (r14 VERDICT
    // task 5): ivf and ivfsq recall@10 at nprobe ∈ {1,2,4,8} — the
    // curve the bench records per round — plus the cheapest-meeting
    // selection at target 0.9. The output is the curve's INVARIANTS
    // (the selection itself is not SQL-expressible; the values land in
    // BENCH_DETAIL's recall dict): candidate sets at larger nprobe are
    // supersets (probed lists are rank-prefixes), so ivf recall is
    // MONOTONE in nprobe and exactly 1.0 at nprobe = nlist; ivfsq
    // ranks the same pruned candidates by ADC so it can only lose true
    // neighbors (ivfsq ≤ ivf pointwise); the selected point must meet
    // the target, nothing cheaper on the curve may meet it, and a
    // probe under the selected config must find the self-query at
    // distance 0.
    "knn_curve_select" -> ((s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val curve = curveCache.computeIfAbsent(dir, _ =>
        graft.index.Recall.ivfCurve(corpus, nQueries = 10, k = 10, nlist = 8))
      val byNp = curve.groupBy(_.family).map { case (f, ps) =>
        f -> ps.sortBy(_.nprobe) }
      val ivf = byNp("ivf")
      val ivfsq = byNp("ivfsq")
      def monotone(ps: Seq[graft.index.Recall.CurvePoint]): Boolean =
        ps.zip(ps.drop(1)).forall { case (a, b) => a.recall <= b.recall }
      val chosen = graft.index.Recall.selectFromCurve(curve, 0.9)
      val meets = chosen.exists(_.recall >= 0.9)
      val cheapestOk = chosen.exists(c =>
        !curve.exists(p => p.costFrac < c.costFrac && p.recall >= 0.9))
      // end-to-end: probe the self-query under the selected config
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val ivfIndex = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val assigned = graft.index.Ivf.assign(ivfIndex, corpus)
        .select("vec_id", "embedding", "cluster")
      val np = chosen.map(_.nprobe).getOrElse(8)
      val selfFound = chosen.map { c =>
        val cands =
          if (c.family == "ivf")
            graft.index.Ivf.search(ivfIndex, assigned, query, 10, np)
          else {
            val m = graft.index.Sq.fit(corpus)
            val probed = graft.index.Ivf.probeClusters(ivfIndex, query, np)
            val enc = assigned.select(col("vec_id"), col("cluster"))
              .join(graft.index.Sq.encode(corpus, m), "vec_id")
            graft.index.Sq.search(
              enc.filter(col("cluster").isin(probed: _*)), m, query, 10)
          }
        cands.filter(col("vec_id") === 0).count() == 1L
      }.getOrElse(false)
      import s.implicits._
      Seq((
        curve.size.toLong,
        if (monotone(ivf)) 1L else 0L,
        if (ivf.last.nprobe == 8 && ivf.last.recall == 1.0) 1L else 0L,
        if (ivf.zip(ivfsq).forall { case (a, b) => b.recall <= a.recall }) 1L else 0L,
        if (meets) 1L else 0L,
        if (cheapestOk) 1L else 0L,
        if (selfFound) 1L else 0L
      )).toDF("n_points", "ivf_monotone", "ivf_full_exact", "ivfsq_le_ivf",
        "chosen_meets", "chosen_cheapest", "self_found")
    }),

    // IVF snapshot pinning (r15 VERDICT task 1) as a declared query:
    // a delta-aware probe is BUILT, then a delete + FOLD COMMIT land
    // on the layout (previously the engine's one stop-the-world op),
    // then the probe executes — it must serve the WHOLLY-OLD state
    // (the deleted ids still ranked; old manifest files + delta leg
    // intact under lagged GC), while a fresh probe serves wholly-new =
    // exact top-k over the survivor union. The summary pins both, as
    // provable invariants (the knn_curve_select device).
    "knn_ivf_pinned" -> ((s, dir) => {
      import s.implicits._
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val scratch = freshScratchDir(dir, "pinivf")
      val layoutDir = s"$scratch/layout"
      copyDir(base.dir, layoutDir)
      val layout = graft.index.Ivf.loadLayout(layoutDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // 12 exact copies: after two deletes, self + 10 survivors at
      // distance 0 fill the whole top-10 INSIDE the probed cluster, so
      // the nprobe=1 probe provably equals exact over the union
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(12))
        .select((col("id") + lit(5600000L)).as("vec_id"), col("embedding"),
          col("label"))
      graft.index.Ivf.appendDelta(layout, planted, tag = "pin_a1")
      def probeDf() = graft.index.Ivf.searchLayoutDeltaAware(
        s, layout, query, k = 10, nprobe = 1)
      def rows(df: DataFrame) = df.select("vec_id", "dist")
        .as[(Long, Double)].collect().toSeq
      val wantOld = rows(probeDf())
      val pinnedProbe = probeDf() // built now, executed after the commits
      // a delete + FOLD commit interleave mid-probe
      graft.index.Ivf.deleteFromLayout(layout,
        Seq(5600001L, 5600002L).toDF("vec_id"), tag = "pin_d1")
      graft.index.Ivf.compactDeltas(s, layout)
      val pinnedServesOld = rows(pinnedProbe) == wantOld
      val fresh = rows(probeDf())
      val survivors = corpus.select(col("vec_id"), col("embedding"))
        .unionByName(planted.select(col("vec_id"), col("embedding"))
          .filter(!col("vec_id").isin(5600001L, 5600002L)))
      val freshServesNew = fresh == rows(graft.ops.VectorSearch
        .knnExact(survivors, query.toSeq, 10))
      Seq((
        wantOld.size.toLong,
        if (wantOld.map(_._1).contains(5600001L)) 1L else 0L,
        if (pinnedServesOld) 1L else 0L,
        if (!fresh.exists(r => r._1 == 5600001L || r._1 == 5600002L)) 1L else 0L,
        if (freshServesNew) 1L else 0L
      )).toDF("n_rows", "delta_probed", "pinned_serves_old",
        "deleted_hidden", "fresh_serves_new")
    }),

    // The GC RETENTION knob (r15 VERDICT task 2) as a declared query:
    // under retention=2 a pinned store view survives TWO interleaved
    // compaction commits and is collected exactly at the third; under
    // the default retention=1 the same interleaving loses the pinned
    // snapshot's files (the documented historical bound). Runs the
    // full lifecycle on two scratch fuzzy stores.
    "store_gc_retention" -> ((s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "retq")
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      def fixture(sub: String): String = {
        val d = s"$scratch/$sub"
        graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((50L, "zzz-unique-zzz")).toDF("id", "name"),
          "id", "name", batchTag = Some("a1")).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d) // → v1
        d
      }
      def commit(d: String, id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      val prev = graft.io.MutableStore.gcRetention
      val (survives, collected, freshOk, boundR1) = try {
        graft.io.MutableStore.gcRetention = 2
        val d2 = fixture("r2")
        val wantOld = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d2))
        val pinnedView = graft.ops.FuzzyJoin.fuzzyStoreView(s, d2)
        commit(d2, 60L, "a2"); commit(d2, 61L, "a3")
        val survives = ids(pinnedView) == wantOld
        commit(d2, 62L, "a4") // third commit unprotects v1
        val collected = !java.nio.file.Files.exists(
          java.nio.file.Paths.get(d2, "base_v1"))
        val freshOk = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d2)) ==
          wantOld ++ Set(60L, 61L, 62L)
        graft.io.MutableStore.gcRetention = 1
        val d1 = fixture("r1")
        val want1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d1))
        val pinned1 = graft.ops.FuzzyJoin.fuzzyStoreView(s, d1)
        commit(d1, 60L, "a2"); commit(d1, 61L, "a3")
        val got1 = try Some(ids(pinned1)) catch { case _: Throwable => None }
        (survives, collected, freshOk, got1 != Some(want1))
      } finally graft.io.MutableStore.gcRetention = prev
      Seq((
        if (survives) 1L else 0L,
        if (collected) 1L else 0L,
        if (freshOk) 1L else 0L,
        if (boundR1) 1L else 0L
      )).toDF("r2_pinned_survives_two_commits", "r2_collected_at_third",
        "r2_fresh_serves_new", "r1_bound_documented")
    }),

    // STANDALONE SNAPSHOT EXPIRY (r16 VERDICT task 2) as a declared
    // query: lagged GC runs only at the next compaction's start, so a
    // QUIESCENT store retains superseded versions forever — until the
    // explicit, lease-holding expireSnapshots maintenance op applies
    // the retention policy on demand. Proven on a scratch fuzzy store:
    // a prior within retention survives the op (and a view pinned on
    // it still serves), tightening the policy then reclaims the
    // superseded base WITHOUT a content commit (version pointer
    // unmoved), and the op is idempotent.
    "store_expire_snapshots" -> ((s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "expq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      commit(50L, "a1") // → v1
      graft.io.MutableStore.setGcRetention(d, Some(2))
      val (retained, protSurvives, pinnedServes, reclaimed, vUnmoved,
          freshOk, idem) =
        try {
          val wantV1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d))
          val pinned = graft.ops.FuzzyJoin.fuzzyStoreView(s, d) // pinned at v1
          commit(60L, "a2") // → v2; the v1 prior is retention-protected
          val base1 = java.nio.file.Paths.get(d, "base_v1")
          val retained = java.nio.file.Files.exists(base1)
          graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d) // policy: keep 2
          val protSurvives = java.nio.file.Files.exists(base1)
          val pinnedServes = ids(pinned) == wantV1
          graft.io.MutableStore.setGcRetention(d, None) // default 1
          val n = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d)
          val reclaimed = n >= 1 && !java.nio.file.Files.exists(base1)
          val st = graft.io.MutableStore.state(d)
          val vUnmoved = st.v == 2 && st.priors.isEmpty
          val freshOk =
            ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 + 60L
          val idem = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d) == 0
          (retained, protSurvives, pinnedServes, reclaimed, vUnmoved,
            freshOk, idem)
        } finally graft.io.MutableStore.setGcRetention(d, None)
      Seq((
        if (retained) 1L else 0L,
        if (protSurvives) 1L else 0L,
        if (pinnedServes) 1L else 0L,
        if (reclaimed) 1L else 0L,
        if (vUnmoved) 1L else 0L,
        if (freshOk) 1L else 0L,
        if (idem) 1L else 0L
      )).toDF("retained_until_expiry", "protected_prior_survives",
        "pinned_within_retention_serves", "reclaimed_on_demand",
        "no_content_commit", "fresh_serves_new", "idempotent")
    }),

    // TIME-TRAVEL reads (r16 VERDICT task 4) as a declared query: a
    // three-version scratch fuzzy store (two compaction commits under
    // retention=2, then an uncompacted live leg) replayed AS OF every
    // retained version. Each prior replays its RETIREMENT state — base
    // version + the delta legs live at the superseding commit — and
    // the current version is the live view; the oracle pins the exact
    // (version, store_id) relation.
    "store_time_travel" -> ((s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "ttq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      commit(50L, "a1") // v0 retired carrying live=[a1] → v1
      graft.io.MutableStore.setGcRetention(d, Some(2))
      try {
        commit(60L, "a2") // v1 retired carrying live=[a2] → v2
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((70L, "uniq70uniq70uniq70")).toDF("id", "name"),
          "id", "name", batchTag = Some("live1")).collect() // uncompacted
        graft.io.MutableStore.retainedVersions(d).map { v =>
          graft.ops.FuzzyJoin.fuzzyStoreViewAt(s, d, v)
            .select(lit(v).as("version"), col("store_id")).distinct()
        }.reduce(_ unionAll _).orderBy(col("version"), col("store_id"))
      } finally graft.io.MutableStore.setGcRetention(d, None)
    }),

    // NAMED SNAPSHOT TAGS + ROLLBACK (round 17; the Iceberg tag /
    // rollback analogues — completing the snapshot lifecycle: pin,
    // retain, time-travel, NAME, RESTORE). A tag exempts its version
    // from the retention policy indefinitely (the bound is the tag
    // list, never a silent cap); rollback commits a state replaying a
    // retained prior with NO data movement; the rolled-back-FROM
    // version stays roll-forward-able as a retained prior. Scripted on
    // a scratch fuzzy store under the DEFAULT retention=1 — the
    // harshest policy: every proof below holds because the TAG (not
    // the policy) is doing the protecting.
    "store_snapshot_rollback" -> ((s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "tagq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      def baseV1: Boolean = java.nio.file.Files.exists(
        java.nio.file.Paths.get(d, "base_v1"))
      commit(50L, "a1") // → v1
      val wantV1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d))
      graft.ops.FuzzyJoin.tagFuzzySnapshot(d, "golden") // names v1
      // two commits under default retention=1 would collect v1; the
      // tag keeps it readable BY NAME
      commit(60L, "a2"); commit(61L, "a3") // → v3
      val tagProtects = baseV1
      val tagView =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // ROLLBACK to the tag; then ROLL-FORWARD (the from-version is a
      // retained prior)
      val from = graft.ops.FuzzyJoin.rollbackFuzzyStoreToTag(d, "golden")
      val rollbackRestores = from == 3 &&
        graft.io.MutableStore.state(d).v == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1
      val rollForward = graft.ops.FuzzyJoin.rollbackFuzzyStore(d, 3) == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 ++ Set(60L, 61L)
      // a compaction after the rollback dance: never-reuse allocation
      // skips every on-disk version; the tagged snapshot still serves
      commit(62L, "a4")
      val neverReuse = graft.io.MutableStore.state(d).v == 4
      val tagSurvivesFold =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // dropping the tag hands the snapshot back to the policy: the
      // standalone expiry collects it and revokes the read
      graft.ops.FuzzyJoin.dropFuzzyTag(d, "golden")
      val expired = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d)
      val viewAtGone = try {
        graft.ops.FuzzyJoin.fuzzyStoreViewAt(s, d, 1); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("not readable") }
      val revoked = expired >= 1 && !baseV1 && viewAtGone
      val freshServes = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) ==
        wantV1 ++ Set(60L, 61L, 62L)
      Seq((
        if (tagProtects) 1L else 0L,
        if (tagView) 1L else 0L,
        if (rollbackRestores) 1L else 0L,
        if (rollForward) 1L else 0L,
        if (neverReuse) 1L else 0L,
        if (tagSurvivesFold) 1L else 0L,
        if (revoked) 1L else 0L,
        if (freshServes) 1L else 0L
      )).toDF("tag_protects_default_policy", "time_travel_by_tag",
        "rollback_restores", "roll_forward", "never_reuse_allocation",
        "tag_survives_fold", "drop_tag_revokes", "fresh_serves_new")
    }),

    // The WRITER LEASE (r15 VERDICT task 5) as a declared query: the
    // single-writer contract is ENFORCED — a commit primitive outside
    // a lease is rejected loudly, a second interleaved writer is
    // rejected naming the holder, a crashed writer's stale lock is
    // stolen after the TTL, and the post-steal commit lands.
    "store_writer_lease" -> ((s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "leaseq")
      val storeDir = s"$scratch/store"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
      val outsideRejected = try {
        graft.io.MutableStore.commitLiveLists(storeDir, Seq("x"), Seq.empty); 0L
      } catch {
        case e: IllegalStateException if e.getMessage.contains("writer lease") => 1L
      }
      val aInside = new java.util.concurrent.CountDownLatch(1)
      val aRelease = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        graft.io.MutableStore.withWriterLock(storeDir, "writerA") {
          aInside.countDown(); aRelease.await()
        })
      holder.start(); aInside.await()
      val secondRejected = try {
        graft.io.MutableStore.withWriterLock(storeDir, "writerB")(0L)
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("single-writer") &&
              e.getMessage.contains("writerA") => 1L
      }
      aRelease.countDown(); holder.join()
      // crashed writer: stale lock aged past the TTL is stolen
      val d = java.nio.file.Paths.get(storeDir).toAbsolutePath.normalize
      val lock = d.getParent.resolve(d.getFileName.toString + "__writer_lock")
      java.nio.file.Files.write(lock, "crashed@dead-jvm".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 11L * 60L * 1000L))
      val stolen = graft.io.MutableStore.withWriterLock(storeDir, "writerC") {
        graft.io.MutableStore.commitLiveLists(storeDir, Seq("ok"), Seq.empty); 1L
      }
      val committed =
        if (graft.io.MutableStore.state(storeDir).live == Some(Seq("ok"))) 1L
        else 0L
      // FENCING (r16 VERDICT task 1): a writer stalled PAST the TTL
      // whose lock was stolen must not commit over the stealer's state,
      // and its release must not delete the stealer's live lock. The
      // heartbeat (which keeps a LIVE slow writer from ever expiring)
      // is suppressed to simulate a full process stall.
      val storeDir2 = s"$scratch/store_fence"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir2))
      val d2 = java.nio.file.Paths.get(storeDir2).toAbsolutePath.normalize
      val lock2 = d2.getParent.resolve(d2.getFileName.toString + "__writer_lock")
      graft.io.MutableStore.heartbeatEnabled = false
      val (fencedCommit, fencedRelease, stealerSurvives) = try {
        val ttl = 400L
        val aAcquired = new java.util.concurrent.CountDownLatch(1)
        val proceedA = new java.util.concurrent.CountDownLatch(1)
        val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val a = new Thread(() =>
          try graft.io.MutableStore.withWriterLock(storeDir2, "stalledA", ttlMs = ttl) {
            aAcquired.countDown(); proceedA.await()
            graft.io.MutableStore.commitLiveLists(storeDir2, Seq("fromA"), Seq.empty)
          } catch { case t: Throwable => aErr.set(t) })
        a.start(); aAcquired.await()
        Thread.sleep(ttl + 200)
        val inner = graft.io.MutableStore.withWriterLock(storeDir2, "stealerB", ttlMs = ttl) {
          graft.io.MutableStore.commitLiveLists(storeDir2, Seq("fromB"), Seq.empty)
          proceedA.countDown(); a.join(10000)
          val cFenced = Option(aErr.get()).exists(_.getMessage.contains("STOLEN"))
          val rFenced = java.nio.file.Files.exists(lock2) // A left B's lock alone
          (cFenced, rFenced)
        }
        val survives =
          graft.io.MutableStore.state(storeDir2).live == Some(Seq("fromB"))
        (if (inner._1) 1L else 0L, if (inner._2) 1L else 0L, if (survives) 1L else 0L)
      } finally graft.io.MutableStore.heartbeatEnabled = true
      Seq((outsideRejected, secondRejected, stolen, committed,
          fencedCommit, fencedRelease, stealerSurvives))
        .toDF("commit_outside_lease_rejected", "second_writer_rejected",
          "expired_lease_stolen", "post_steal_commit_lands",
          "stalled_commit_fenced", "stalled_release_fenced",
          "stealer_state_survives")
    }),

    // Selector-routed BATCH ANN: a query TABLE (the 12 lowest-id
    // corpus vectors — planted exact copies, so the oracle can demand
    // self-retrieval) served under the recall-targeted config the
    // measured frontier selects, through the batch path: per-query
    // probe clusters from a broadcast centroid rank, probe table
    // broadcast INTO the assignment scan (corpus never shuffled —
    // plan-pinned in AnnSelectorSpec), bounded TopKAggregator per
    // query. Self-retrieval at dist 0 for every query plus full k rows
    // is the per-query invariant the oracle checks.
    "knn_batch_at_recall" -> ((s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val (lshModel, ivfIndex, frontier) = selectorCache.computeIfAbsent(dir, { _ =>
        val b = graft.index.AnnSelector.build(corpus, nQueries = 10, k = 10, nlist = 8)
        try (b.lshModel, b.ivfIndex, b.frontier) finally b.release()
      })
      val built = graft.index.AnnSelector.fromParts(corpus, lshModel, ivfIndex, frontier)
      val point = graft.index.AnnSelector.select(built, 0.9)
      val queries = corpus.orderBy(col("vec_id").asc).limit(12)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.index.AnnSelector.searchBatch(built, corpus, point, queries, k = 10)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("vec_id") === col("query_id") && col("dist") === 0.0, 1L)
            .otherwise(0L)).as("self_found"))
        .orderBy(col("query_id"))
    }),

    // IVF-PQ (the FAISS-style composition): codes partitioned by the
    // coarse cluster, probe prunes partitions BEFORE the ADC scan of
    // 8-byte codes, exact re-rank of the 200-shortlist. With the
    // exhaustive probe the candidate space equals knn_pq_rerank's, so
    // the result equals exact top-10 and shares the brute-force oracle.
    // Index structures are memoized per sf-dir (build once, probe many).
    "knn_ivfpq_rerank" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (ivf, cb, codesDir) = ivfPqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val short = graft.index.Pq.searchIvfPq(s, codesDir, ivf, cb, query,
        shortlist = 1000, nprobe = 8)
      graft.index.Pq.rerankShortlist(short, corpus, query, k = 10)
    }),

    // IVF-SQ8 — the FAISS IndexIVFScalarQuantizer composition: SQ8
    // codes partitioned by IVF cluster, a probe prunes partitions
    // BEFORE the ADC scan (IO shrinks multiplicatively) and keeps
    // per-dimension resolution where IVF-PQ shares subspace centroids.
    // Same rerank-equals-exact contract as knn_ivfpq_rerank, so it
    // shares the brute-force oracle.
    "knn_ivfsq_rerank" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val (ivf, model, codesDir) = ivfSqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val short = graft.index.Sq.searchIvfSq(s, codesDir, ivf, model, query,
        shortlist = 1000, nprobe = 8)
      graft.index.Pq.rerankShortlist(short, corpus, query, k = 10)
    }),

    // LSH approximate top-10 (O6 rebuild → fit, approx O7), oracle-checked
    // via the planted-copy construction (same device as knn_ivf_pruned):
    // nine exact copies of the query vector join the corpus, so exactly
    // ten rows (self + nine copies) sit at dist 0. An exact copy hashes
    // identically to the key in EVERY hash table — floor((v·h + b)/w) is
    // a pure function of v — so all ten are guaranteed candidates of the
    // single-probe lookup, and any sort-by-distance must keep precisely
    // the ten dist-0 rows in its top-10. The approximate path therefore
    // provably equals the brute-force exact oracle while still exercising
    // the full LSH plumbing (fit, bucket probe, candidate re-rank). Recall
    // on the RAW corpus stays pinned by knn_lsh_check and AnnSpec.
    "knn_lsh_top10" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(9))
        .select((col("id") + lit(3000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val model = graft.index.Ann.fit(full)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ann.searchApprox(model, full, query, k = 10)
    }),

    // Invariant summary for the LSH search path (its bucket choices are
    // not SQL-expressible, so the rows stay rows-only above): every
    // reported distance must equal the exact kernel's value for that id,
    // the operator's rank column must agree with a recomputed (dist, id)
    // ranking, at most k rows, and the approximate top-10 must intersect
    // the exact top-10 in at least 8 ids (the seeded index is
    // deterministic; recall is also pinned in AnnSpec). All counts are
    // invariants, so the oracle pins constants.
    "knn_lsh_check" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val model = graft.index.Ann.fit(corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val approx = graft.index.Ann.searchApprox(model, corpus, query, k = 10)
      val exact = VectorSearch.knnExact(corpus, query.toSeq, k = 10)
      val truth = corpus.select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), lit(query)).as("true_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("true_dist").asc, col("vec_id").asc)
      val checked = approx
        .join(truth, "vec_id")
        .join(exact.select(col("vec_id"), lit(1).as("in_exact")), Seq("vec_id"), "left")
        // recomputed from the TRUE distances — catches both a mis-ranked
        // operator and a dist column that disagrees with the ranking
        .withColumn("rank_check", row_number().over(w))
      checked.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 10, 1L).otherwise(0L)).as("over_k"),
        sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)).cast("long").as("recall10_hits"))
        .select(col("n_rows"), col("bad_dist"), col("rank_violations"), col("over_k"),
          when(col("recall10_hits") >= 8, 1L).otherwise(0L).as("recall_ok"))
    }),

    // kNN over int8-quantized-then-dequantized embeddings — proves the
    // quantization arithmetic end-to-end against the oracle (identical
    // float64 op order both sides; floor(x+0.5), never round()).
    "knn_quantized_top10" -> ((s, dir) => {
      import graft.functions.{Distances, Quantization}
      val e = emb(s, dir)
      val deq = Quantization.quantize(e).select(col("vec_id"),
        Quantization.dequantize(col("codes"), col("q_min"), col("q_scale")).as("deq"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      deq.crossJoin(broadcast(q))
        .select(col("vec_id"), Distances.l2SqHof(col("deq"), col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
    }),

    // BINARY (1-bit) signatures + Hamming top-k — the heaviest
    // compression rung on the quantization ladder (float32 256 B →
    // one 64-bit word, 32×) and the classic first stage of two-stage
    // retrieval. Thresholds are per-dimension MIDRANGE (min+max)/2:
    // order-independent aggregates, so every signature bit is
    // bit-identical across partitionings and engines (a mean's float
    // summation order would not be). Signature build is a narrow map;
    // the scan is bit_count(xor) + TakeOrderedAndProject. The
    // signature table + thresholds persist behind the shared
    // fingerprint-sidecar artifact (build once, probe many — repeat
    // probes scan 8 bytes/row and never re-read the float corpus).
    "knn_hamming_top10" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.index.Binary.hammingTopK(
        graft.index.Binary.signaturesFromArtifact(s, artDir),
        graft.index.Binary.signatureOf(q, thr), 10)
    }),

    // The SQL surface over the persisted binary signatures: ONE
    // statement — bit_count(sig ^ qsig) over the 8-byte/row table,
    // bounded TakeOrdered — with the query signature computed by the
    // same driver-side twin and inlined as a literal. Shares
    // knn_hamming_top10's oracle (bit-identical distances required).
    "sql_hamming_top10" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val qsig = graft.index.Binary.signatureOf(q, thr)
      graft.index.Binary.signaturesFromArtifact(s, artDir)
        .createOrReplaceTempView("binsig_v")
      s.sql(
        s"""SELECT vec_id, CAST(bit_count(sig ^ ${qsig}L) AS INT) AS hamming
           |FROM binsig_v
           |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin)
    }),

    // Two-stage retrieval (the production shape at 100 TB): Hamming
    // shortlist of 50 over the 8-byte signatures, then exact float64
    // rescore of ONLY those rows — the bounded id set re-enters as an
    // isin predicate and reaches the parquet scan as a pushed filter
    // (row-group pruning), so full-precision vectors are read for 50
    // rows, never rescanned. The oracle replays both stages.
    "knn_hamming_rescore" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.index.Binary.hammingRescoreTopK(
        e, graft.index.Binary.signaturesFromArtifact(s, artDir), q, thr,
        k = 10, shortlist = 50)
    }),

    // The 1-bit stage's accuracy, MEASURED and under the hash gate:
    // how much of the exact top-10 the 50-id Hamming shortlist
    // retains. Binary signatures trade recall for a 32× scan; the
    // number is recorded honestly (isotropic synthetic embeddings are
    // the hard case for sign bits) rather than assumed.
    "knn_hamming_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val short = graft.index.Binary.hammingTopK(
        graft.index.Binary.signaturesFromArtifact(s, artDir),
        graft.index.Binary.signatureOf(q, thr), 50).select("vec_id")
      VectorSearch.knnExact(e, q, 10).select("vec_id")
        .join(short, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(50).as("shortlist"), lit(10).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / 10.0).as("recall"))
    }),

    // TAKEDOWN leg for the persisted BINARY signature store: the two
    // nearest non-self signatures are tombstoned (thresholds NEVER
    // refit — the trained-index contract, so the oracle's sig CTEs
    // over the FULL corpus stay valid), and the live-signature probe
    // must reproduce a from-scratch Hamming ranking over the
    // survivors. Delete = one tag-keyed batch write; the 8-byte scan
    // gains one broadcast anti-join of a two-row id set.
    "knn_hamming_delete" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bindel_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      graft.index.Binary.dropMutations(artDir) // replay determinism
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val qsig = graft.index.Binary.signatureOf(q, thr)
      // bounded: raw top-3 comes back, self (rank 1 — hamming 0 at the
      // minimal id) drops out -> 2 ids, deterministic per corpus
      val delIds = graft.index.Binary.hammingTopK(
          graft.index.Binary.signaturesFromArtifact(s, artDir), qsig, 3)
        .collect().map(_.getLong(0)).filter(_ != 0L).toIndexedSeq
      graft.index.Binary.deleteFromArtifact(s, artDir,
        e.filter(col("vec_id").isin(delIds: _*)), tag = "del")
      graft.index.Binary.hammingTopK(
        graft.index.Binary.liveSignatures(s, artDir), qsig, 10)
    }),

    // DIMENSIONAL TRUNCATION two-stage retrieval (the Matryoshka
    // shape, Kusupati et al. NeurIPS'22): stage 1 is exact L2 over
    // only the first 16 of 64 coordinates — a 4× scan-cost cut with
    // no codebook or training artifact (at scale the prefix lives as
    // its own narrow column and the wide column prunes away) — stage
    // 2 rescores the 50 survivors at full dimension through the
    // pushed id filter. Completes the quantization ladder's cheapest
    // float rung next to int8/PQ/OPQ/IVF-PQ/binary.
    "knn_prefix_rescore" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.knnPrefixRescore(e, q, prefixDim = 16, k = 10,
        shortlist = 50)
    }),

    // Deterministic k-means — CLUSTERING itself under the hash gate
    // (the IVF coarse quantizer's ML fit is only invariant-pinned):
    // Lloyd rounds on the micro-quantized integer grid, where every
    // distance, argmin and floor-division centroid update is exact
    // int64 and therefore order-independent across partitionings and
    // engines. The semantic-clustering primitive SemDeDup-style
    // pipelines shard by. The oracle replays the entire training.
    "emb_kmeans" -> ((s, dir) => {
      graft.ops.QuantKMeans.fitAssign(emb(s, dir), k = 4, iters = 3, dim = EmbDim)
        .orderBy(col("vec_id"))
    }),

    // Embedding OUTLIER detection — the curation step after
    // clustering: the 20 vectors farthest from their own (nearest)
    // centroid under the deterministic quantized k-means model, i.e.
    // the points no cluster explains — encoding garbage, off-
    // distribution content, mislabeled modalities. Exact integer
    // distances make the ranking engine-invariant; the cut is a
    // bounded TakeOrdered, and the oracle replays the full training
    // then takes the same top-20. At 100 TB this is one narrow
    // assignment map (centroids are plan literals) + a k-row heap —
    // no shuffle beyond the training rounds' k·d-cell aggregates.
    "emb_outliers" -> ((s, dir) => {
      graft.ops.QuantKMeans.fitAssign(emb(s, dir), k = 4, iters = 3, dim = EmbDim)
        .orderBy(col("dist_q").desc, col("vec_id").asc)
        .limit(20)
    }),

    // HNSW — the index family the reference actually ships
    // (/root/reference/lib/hnsw/hnsw.h, Malkov & Yashunin TPAMI'18),
    // sharded: one deterministic sub-graph per hash shard, built once
    // behind the fingerprint sidecar, probed by searching every
    // shard's graph in parallel and merging <= parts*k candidates in a
    // global TakeOrdered. The graph walk's bucket choices are not
    // SQL-expressible; the oracle is the EXACT ranking, which the
    // probe must reproduce end-to-end (recall is additionally pinned
    // as an invariant by knn_hnsw_check and HnswSpec).
    "knn_hnsw_top10" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
    }),

    // BATCH probe over the same persisted HNSW layout: a 5-query table
    // served in ONE pass — each shard's resident graph walks all
    // queries (per-task graph assembly amortized across the batch),
    // then a bounded per-query window ranks ≤ parts·k·|Q| candidates.
    // The oracle is the exact per-query ranking (knn_join_agg's
    // brute-force shape), which the beam at efSearch=64 must reproduce
    // end-to-end — a 5× harder exactness pin than the single-query
    // probe.
    "knn_hnsw_batch" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      // bounded collect: the 5 probe vectors
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      graft.index.Hnsw.searchLayoutBatch(s, artDir, qs, k = 10, p,
        efSearch = 64)
    }),

    // HNSW tombstone delete: mark-deleted ids stay in the graph as
    // ROUTING WAYPOINTS (severing edges breaks small-world paths — the
    // production semantics) but never surface in results; deletes are
    // tag-keyed overwrites (idempotent under redelivery) in a SEPARATE
    // artifact dir so the plain probe's layout stays pristine. Query
    // vec 0 deletes ITSELF plus two more — the exact top-1 visibly
    // drops out, which the oracle replays with a NOT IN.
    "knn_hnsw_delete" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnswdel_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      graft.index.Hnsw.deleteFromLayout(s, artDir, Seq(0L, 1L, 2L), tag = "q")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
    }),

    // PHYSICAL tombstone reclaim for the sharded HNSW layout — the
    // compaction leg knn_hnsw_delete's logical delete was missing
    // (every other store physically drops at compaction; without this
    // a delete-heavy graph keeps dead routing waypoints forever): the
    // shared base is copied, three ids are tombstoned, and
    // compactDeltas(dropTombstoned = true) canonically REBUILDS the
    // graph without them (versioned atomic swap, tombstone table
    // removed after the commit). The post-compaction probe pays NO
    // exclusion and must still equal the brute-force oracle over the
    // survivors — proving the rebuild dropped exactly the dead nodes.
    "knn_hnsw_compact" -> ((s, dir) => {
      val e = emb(s, dir)
      val p = hnswParams(e)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      graft.index.Hnsw.ensureLayout(e, baseDir, p)
      val scratch = freshScratchDir(dir, "hnswcompact")
      val work = s"$scratch/art"
      copyDir(baseDir, work)
      graft.index.Hnsw.deleteFromLayout(s, work, Seq(0L, 1L, 2L), tag = "q")
      graft.index.Hnsw.compactDeltas(s, work, p, dropTombstoned = true)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, work, q, 10, p, efSearch = 64)
    }),

    // Invariant summary for the HNSW path (the knn_lsh_check pattern):
    // every reported distance equals the exact kernel's value for that
    // id, the rank column agrees with a recomputed (dist, id) ranking,
    // at most k rows, and the top-10 intersects the exact top-10 in at
    // least 9 ids. The build is deterministic, so the summary is a
    // constant row the oracle pins.
    "knn_hnsw_check" -> ((s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val approx = graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
      val exact = VectorSearch.knnExact(e, q.toSeq, k = 10)
      val truth = e.select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), lit(q)).as("true_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("true_dist").asc, col("vec_id").asc)
      val checked = approx
        .join(truth, "vec_id")
        .join(exact.select(col("vec_id"), lit(1).as("in_exact")), Seq("vec_id"), "left")
        .withColumn("rank_check", row_number().over(w))
      checked.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 10, 1L).otherwise(0L)).as("over_k"),
        sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)).cast("long").as("recall10_hits"))
        .select(col("n_rows"), col("bad_dist"), col("rank_violations"), col("over_k"),
          when(col("recall10_hits") >= 9, 1L).otherwise(0L).as("recall_ok"))
    }),

    // MAXIMAL MARGINAL RELEVANCE diversified retrieval (Carbonell &
    // Goldstein SIGIR'98) — the RAG de-redundancy step: greedy picks
    // maximize 0.7·rel − 0.3·max-sim-to-selected, so near-duplicate
    // passages stop crowding out coverage. Corpus-sized work (cosine
    // relevance + 20-row shortlist) is the distributed TakeOrdered
    // path; the inherently-sequential greedy runs on the driver over
    // the BOUNDED shortlist. The oracle unrolls all 8 greedy layers
    // relationally (materialized candidate/sim tables + one argmax CTE
    // per pick — the BPE priority-layer discipline) and matches bit
    // for bit.
    "knn_mmr" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.knnMmr(e, q, k = 8, shortlist = 20)
    }),

    // Metadata-filtered hybrid search: the label predicate prunes the
    // scan BELOW the top-k (visible as a parquet PushedFilter).
    "knn_hybrid" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.knnExactDf(corpus.filter(col("label") === 3), query, k = 10)
    }),

    // ---- events: JSON metadata + windowed aggregation ----

    // JSON-metadata predicate + aggregate. The extraction is staged ONCE
    // into a column and the predicate folded into the aggregates: a
    // Filter + agg both referencing get_json_object parses every
    // surviving row's blob twice (no subexpression elimination across
    // FilterExec), and predicate pushdown re-inlines a staged alias
    // under the filter anyway. The conditional-aggregate form keeps the
    // staging Project intact (CollapseProject refuses to duplicate a
    // non-cheap expression into two aggregates), so each blob is parsed
    // exactly once — asserted in PlanAuditSpec.
    "events_json_filter" -> ((s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .agg(
          count(when(col("k") > 80, 1)).as("n_events"),
          sum(when(col("k") > 80, col("k"))).as("k_sum"))
    }),

    // Distinct-count aggregation per event type (the groupBy-distinct
    // shape: two-phase partial aggregation, no driver collect).
    "events_user_stats" -> ((s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"))
        .orderBy(col("event_type"))
    }),

    // Ordered funnel conversion over first-occurrence times (one
    // shuffle on user, no self-joins).
    "events_funnel" -> ((s, dir) => {
      graft.ops.EventAnalytics.funnel(events(s, dir), Seq("view", "click", "purchase"))
    }),

    // Fixed-width histogram of the value column (single partial
    // aggregation on the bin id; edge bins clamp out-of-range mass).
    "events_value_hist" -> ((s, dir) => {
      graft.ops.EventAnalytics.histogram(events(s, dir), "value",
          minVal = 0.0, maxVal = 1000.0, bins = 20)
        .select(col("bin"), col("n"), col("bin_start"))
    }),

    // Z-order layout quality: Morton-interleave (user_id, value)
    // buckets, equal-row blocks from a counting-sort cumulative over
    // the occupied-CELL table (bounded by the 2^20 key space, never a
    // row sort) — per-block dimension spans show the Morton layout
    // bounding BOTH columns where the single-column sorts bound one.
    "events_zorder_stats" -> ((s, dir) => {
      graft.ops.ZOrder.layoutStats(
        events(s, dir).select("user_id", "value"), "user_id", "value")
    }),

    // The z-order DATA path: a 2-D box aggregate through the persisted
    // Morton layout (fingerprint sidecar, build once / probe many).
    // Both predicates reach the scan; file min/max footers bound both
    // columns, so the read skips non-intersecting files — the
    // SelectedBucketsCount story for multi-dimensional range queries.
    "events_zorder_pruned" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val layoutDir = s"$tmp/graft_zorder_$key"
      val ev = events(s, dir).select("event_id", "user_id", "value")
      graft.ops.ZOrder.ensureZOrderedLayout(s, ev, layoutDir, "user_id", "value")
      graft.ops.ZOrder.scanBox(s, layoutDir, "user_id", "value", 2L, 9L, 20.0, 250.0)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("event_id")), lit(0L)).cast("long").as("id_sum"),
          coalesce(sum(floor(col("value") * 1000).cast("long")), lit(0L))
            .cast("long").as("value_milli"))
    }),

    // Multi-level aggregation: ROLLUP over (hour, event_type) — subtotal
    // and grand-total rows from one pass (partial-aggregated like any
    // groupBy; no per-level rescan).
    "events_rollup" -> ((s, dir) => {
      events(s, dir)
        .rollup(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        .orderBy(col("hour").asc_nulls_first, col("event_type").asc_nulls_first)
    }),

    // Set operations as first-class relational surface: INTERSECT /
    // EXCEPT over user-id sets (both plan as aggregate-then-join on the
    // id — distinct semantics, partial-aggregated; no row-by-row
    // comparison). Output is the membership count of each region of the
    // click/purchase Venn diagram plus checksums.
    "events_setops" -> ((s, dir) => {
      val e = events(s, dir)
      // both id sets fan into three set-op branches — localCheckpoint
      // so every branch reads one materialized table (exchange reuse
      // under AQE is timing-dependent, the perplexityBuckets
      // discipline)
      def users(t: String) =
        e.filter(col("event_type") === t).select(col("user_id"))
          .localCheckpoint()
      val clicks = users("click")
      val purchases = users("purchase")
      val both = clicks.intersect(purchases)
      val clickOnly = clicks.except(purchases)
      val purchaseOnly = purchases.except(clicks)
      def agg(df: DataFrame, tag: String) =
        df.agg(lit(tag).as("segment"), count(lit(1)).as("n_users"),
          coalesce(sum(col("user_id")), lit(0L)).cast("long").as("id_sum"))
      agg(both, "both")
        .unionAll(agg(clickOnly, "click_only"))
        .unionAll(agg(purchaseOnly, "purchase_only"))
        .orderBy(col("segment"))
    }),

    // Exact per-type quantiles, the counting-sort way: shuffle carries
    // one row per distinct value-milli, the window runs over the
    // bounded histogram, and the type-1 rank pick is pure integer math
    // on both engines (interpolating percentiles would blend floats
    // engine-specifically).
    "events_quantiles" -> ((s, dir) => {
      graft.ops.EventAnalytics.exactQuantiles(
        events(s, dir), "event_type",
        floor(col("value") * 1000).cast("long"),
        Seq(0.5 -> "p50_milli", 0.9 -> "p90_milli", 0.99 -> "p99_milli"))
    }),

    // The SKETCH-BASED quantile path for continuous domains (the scale
    // companion the exactQuantiles doc promises): percentile_approx —
    // Spark's mergeable Greenwald-Khanna summary, map-side partial like
    // the HLL/CMS/MG family — bounds-checked against the exact rank
    // definition in the same job (events_sketch_check style). The
    // verdict row is constant when the sketch honors its documented
    // n/accuracy rank bound and monotonicity, so the oracle pins it.
    "events_approx_quantiles" -> ((s, dir) => {
      graft.ops.EventAnalytics.approxQuantilesReport(
        events(s, dir), col("value"),
        qs = Seq(0.1, 0.5, 0.9, 0.99), accuracy = 1000)
    }),

    // Same counting-sort quantile operator over another table: document
    // length distribution per source — the corpus-report form of the
    // stat (sequence-length planning for packing/truncation budgets).
    "doc_len_quantiles" -> ((s, dir) => {
      graft.ops.EventAnalytics.exactQuantiles(
        docs(s, dir), "source", col("n_chars"),
        Seq(0.5 -> "p50_chars", 0.9 -> "p90_chars", 0.99 -> "p99_chars"))
    }),

    // ---- Relational OLAP pack over the star schema (Relational.scala).
    // All money measures are integer cents (floor(x*100+0.5), identical
    // IEEE ops in both engines), so partial-aggregation order can't
    // shift a hash.

    // TPC-H Q1 shape: single-pass partial-aggregated pricing summary.
    "tpch_pricing" -> ((s, dir) =>
      graft.ops.Relational.pricingSummary(tbl(s, dir, "lineitem"))),

    // TPC-H Q5 shape: 6-table star join; constant dims broadcast,
    // linear-scaling dims stay slim shuffle joins under AQE.
    "tpch_nation_revenue" -> ((s, dir) =>
      graft.ops.Relational.nationRevenue(
        tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), tbl(s, dir, "supplier"),
        tbl(s, dir, "nation"), tbl(s, dir, "region"),
        regionName = "ASIA", orderYear = 1997)),

    // Q10 shape: pre-aggregate the fact twice, TakeOrdered to k rows,
    // THEN join the dimension (k-row side broadcasts for free).
    // Fuzzy entity resolution (PassJoin segment principle): resolve a
    // deterministically-perturbed probe set (every 97th customer, one
    // digit substituted) against the full registry at edit distance 1.
    // Blocking = (segment index, half) equi-join with the probe side
    // broadcast — provably complete for equal-length k=1 — and the
    // ORACLE brute-forces probe × registry, so the hash match IS the
    // completeness proof of the blocked plan.
    "cust_fuzzy_lookup" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val probes = cust.filter(col("c_custkey") % 97 === 0)
        .withColumn("cpos", (col("c_custkey") % 9 + 10).cast("int"))
        .withColumn("old_d", col("c_name").substr(col("cpos"), lit(1)).cast("int"))
        .withColumn("new_d",
          (col("old_d") + lit(1) + col("c_custkey") % 9) % 10)
        .select(col("c_custkey").as("probe_id"),
          concat(
            col("c_name").substr(lit(1), col("cpos") - 1),
            col("new_d").cast("string"),
            col("c_name").substr(col("cpos") + 1, lit(64))).as("probe_name"))
      graft.ops.FuzzyJoin.fuzzyLookup(
          cust.select(col("c_custkey"), col("c_name")), probes,
          "c_custkey", "c_name", "probe_id", "probe_name", maxDist = 1)
        .orderBy(col("probe_id"), col("c_custkey"))
    }),

    // Fuzzy SELF-dedup of a registry slice (every 7th customer): all
    // unordered name pairs within edit distance 1 via segment-blocked
    // self-join; brute-force oracle again proves blocking completeness.
    "cust_fuzzy_pairs" -> ((s, dir) => {
      val slice = tbl(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      graft.ops.FuzzyJoin.fuzzySelfPairs(slice, "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id1"), col("id2"))
    }),

    // Entity CANONICALIZATION — the step after pair-finding: fuzzy
    // pairs close under the distributed connected-components operator
    // (transitive A~B~C is ONE entity even when ed(A,C) > threshold),
    // and every record maps to its entity's min-id canonical record;
    // singletons canonicalize to themselves. Brute-force pair oracle +
    // recursive-closure replay.
    "cust_fuzzy_canon" -> ((s, dir) => {
      val slice = tbl(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      val pairs = graft.ops.FuzzyJoin
        .fuzzySelfPairs(slice, "c_custkey", "c_name", maxDist = 1)
        .select(col("id1").as("id_a"), col("id2").as("id_b"))
      val cc = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "c_custkey")
      slice.select(col("c_custkey")).join(cc, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("cluster_id"), col("c_custkey")).as("canon_id"))
        .withColumn("entity_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("canon_id"))))
        .orderBy(col("c_custkey"))
    }),

    "tpch_top_customers" -> ((s, dir) =>
      graft.ops.Relational.topCustomersByRevenue(
        tbl(s, dir, "lineitem"), tbl(s, dir, "orders"),
        tbl(s, dir, "customer"), k = 10)),

    // Pivot with an explicit value list (no values-discovery scan).
    "tpch_order_pivot" -> ((s, dir) =>
      graft.ops.Relational.orderPriorityPivot(tbl(s, dir, "orders"))),

    // CUBE: all four grouping sets from one partial-aggregated pass.
    "tpch_order_cube" -> ((s, dir) =>
      graft.ops.Relational.orderStatusCube(tbl(s, dir, "orders"))),

    // Window-rank top-k per group — rewritten to bounded row_topk by
    // TopKWindowRewrite (asserted in PlanAuditSpec).
    "tpch_brand_top3" -> ((s, dir) =>
      graft.ops.Relational.topPartsPerBrand(tbl(s, dir, "part"), k = 3)),

    // Running totals over an explicit ROWS frame (Spark's RANGE default
    // would merge date ties; the oracle pins ROWS on both sides).
    "tpch_running_total" -> ((s, dir) =>
      graft.ops.Relational.customerRunningTotals(tbl(s, dir, "orders"))),

    // Semi/anti join pair on the same slim filtered side.
    "tpch_urgent_split" -> ((s, dir) =>
      graft.ops.Relational.urgentCustomerSplit(
        tbl(s, dir, "customer"), tbl(s, dir, "orders"))),

    // Co-located bucketed join: lineitem and orders persisted ONCE as
    // bucketed layouts on the order key (fingerprint-sidecar'd like the
    // IVF layouts — a fresh process re-registers over the existing
    // files, metadata-only), then the per-order aggregation AND the
    // fact join both plan with zero hash exchange: the bucketed scan
    // already distributes on the key. The paid-once shuffle amortizes
    // over every later join/agg on the key — the 100 TB fact⋈fact shape.
    "tpch_colocated_rev" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.ops.Bucketed.ensure(s,
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        s"graft_bl_li_$key", s"$tmp/graft_bucket_li_$key", buckets = 8, "l_orderkey")
      graft.ops.Bucketed.ensure(s,
        tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")),
        s"graft_bl_o_$key", s"$tmp/graft_bucket_o_$key", buckets = 8, "o_orderkey")
      graft.ops.Bucketed.colocatedOrderRevenue(s,
        s"graft_bl_li_$key", s"graft_bl_o_$key", minRevCents = 45000000L)
    }),

    // As-of join: each click joined to the user's most recent prior
    // signup (union + window last_value — one shuffle on user_id, no
    // per-row range scan). Timestamps emitted as epoch micros so both
    // engines hash identical integers.
    "events_asof" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
      graft.ops.Joins.asOfJoin(clicks, signups, "user_id", "click_ts", "signup_ts")
        .select(
          col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("event_id"),
          unix_micros(col("signup_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"))
    }),

    // Interchange-format round trip: embeddings → JSONL → back, then a
    // checksum the oracle recomputes from the source table — a lossy
    // writer, reader, or float re-parse would shift the sums.
    "emb_jsonl_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val src = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding"), lit("""{"tag":"rt"}""").as("metadata"))
        .as[graft.core.VectorRecord]
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_rt_" +
        dirKey(dir)
      graft.io.Formats.writeJsonl(src, out)
      graft.io.Formats.readJsonl(s, out).toDF()
        .agg(count(lit(1)).as("n_rows"),
          sum(col("id")).cast("long").as("id_sum"),
          sum(size(col("embedding"))).cast("long").as("dims_total"),
          sum(floor(element_at(col("embedding"), 1).cast("double") * 1e6).cast("long")).as("first_dim_micro"))
    }),

    // Skew-salted equi-join declared against the plain-join oracle: the
    // deterministic hash salt spreads a hot user over saltFactor shuffle
    // partitions but must not change a single output row.
    "events_salted_join" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"))
      val dims = e.select(col("user_id")).distinct()
        .withColumn("cohort", pmod(col("user_id"), lit(7)))
      graft.ops.Joins.saltedJoin(e, dims, "user_id", saltFactor = 8)
        .select(col("user_id"), col("event_id"), col("event_type"), col("cohort"))
        .orderBy(col("user_id"), col("event_id"), col("event_type"))
    }),

    // Sketch accuracy invariants: HLL distinct estimate and the
    // approximate quantiles must land within their documented error of
    // the exact values — booleans the oracle pins as constants (the
    // sketches themselves have no SQL-equivalent bit pattern).
    "events_sketch_check" -> ((s, dir) => {
      val e = events(s, dir)
      val agg = e.agg(
        countDistinct(col("user_id")).cast("double").as("exact_d"),
        graft.functions.Sketches.approxDistinct(col("user_id")).cast("double").as("est_d"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        graft.functions.Sketches.approxQuantiles(col("value"), Seq(0.5)).getItem(0).as("est_p50"),
        min(col("value")).as("lo"), max(col("value")).as("hi"))
      agg.select(
        // 3x the sketch's rsd (0.05): a ~99.7% bound under the HLL
        // error model. A 5% flag on an rsd-0.05 sketch is a 1-sigma
        // coin flip - it failed at sf0.1 while passing sf0.01 (caught
        // by the full sf0.1 oracle sweep); tightening rsd instead
        // costs 2.2x the query time for no semantic gain
        when(abs(col("est_d") - col("exact_d")) / col("exact_d") <= 0.15, 1L)
          .otherwise(0L).as("hll_ok"),
        when(abs(col("est_p50") - col("exact_p50")) <= (col("hi") - col("lo")) * 0.01, 1L)
          .otherwise(0L).as("quantile_ok"))
    }),

    // Sketch MERGE as a first-class pattern: per-day HLL sketches
    // (DataSketches hll_sketch_agg — the persistable per-partition
    // artifact) unioned with hll_union_agg into the global distinct
    // estimate. At 100 TB this is the shape that replaces recounting:
    // daily sketches are tiny, mergeable, and associative, so any date
    // range's distinct-user estimate is a union over stored sketches,
    // never a rescan. The estimate is checked against the exact
    // distinct (deterministic sketch on fixed data → stable flag, the
    // events_sketch_check convention).
    "events_sketch_merge" -> ((s, dir) => {
      val e = events(s, dir)
      val daily = e.groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = daily.agg(
        count(lit(1)).cast("long").as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk, true))")
          .cast("double").as("est_d"))
      val exact = e.agg(countDistinct(col("user_id")).cast("long").as("exact_d"))
      merged.crossJoin(exact).select(
        col("n_days"), col("exact_d"),
        when(abs(col("est_d") - col("exact_d").cast("double")) /
          col("exact_d").cast("double") <= 0.05, 1L).otherwise(0L).as("merge_ok"))
    }),

    // Count-Min sketch over event_type (Cormode & Muthukrishnan 2005):
    // point-frequency estimates from O(depth·width) state, no groupBy
    // shuffle of the keys. The summary pins the structural guarantees
    // on real data: estimates never under-count, stay within εn above
    // the truth, and the sketch's LINEARITY makes the half+half merge
    // equal the whole-corpus grid bucket-for-bucket (unlike MG's lossy
    // merge, no partition-order caveat). n_keys is exact and
    // oracle-computed; the rest are the sketch contract.
    "events_cms_check" -> ((s, dir) => {
      graft.ops.CountMin.cmsCheck(events(s, dir), "event_type",
        col("event_id") % 2 === 0)
    }),

    // Bin-bucketed range (interval) join: clicks against one-hour
    // windows opened by each signup, same user. The bins turn a per-key
    // cartesian into an equi-join on (user, bin) + exact containment
    // filter; the oracle brute-forces the theta join, which must match.
    "events_range_join" -> ((s, dir) => {
      val e = events(s, dir)
      val points = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val intervals = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("end_ts"))
      graft.ops.Joins.rangeJoin(points, intervals, "user_id", "ts", "start_ts", "end_ts",
          binWidthSec = 3600L)
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"),
          col("event_id"), unix_micros(col("start_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"), col("signup_us"))
    }),

    // Exact dedup keep-lowest-representative: summary of what survives
    // (the groups view is doc_exact_dups; this pins the kept-row side).
    "doc_dedup_keep" -> ((s, dir) => {
      val kept = graft.dedup.Dedup.dedupExact(docs(s, dir))
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(length(col("text")).cast("long")).as("chars_kept"))
    }),

    // INCREMENTAL dedup: a synthetic "new crawl batch" (every %10==7 doc
    // re-delivered under a new id = planted duplicates; every %10==3 doc
    // with a ' graft-novel' suffix = planted novel content) checked
    // against the PERSISTED corpus hash store — the batch never touches
    // corpus text, only the ~48-byte/doc fingerprint artifact, and the
    // store side is never shuffled (batch hashes broadcast into its
    // scan). The oracle replays the whole construction from the corpus.
    "dedup_incremental" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val corpus = docs(s, dir)
      val storeDir = s"$tmp/graft_hashstore_$key"
      graft.dedup.Dedup.ensureHashStore(s, corpus, storeDir)
      val redelivered = corpus.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val novel = corpus.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" graft-novel")).as("text"))
      graft.dedup.Dedup.newAgainstStore(s, storeDir, redelivered.unionAll(novel))
        .orderBy(col("doc_id"))
    }),

    // Incremental NEAR-dup: a new batch Jaccard-checks itself against
    // the persisted shingle-posting store (exact verdict — no banded
    // recall caveat); postings are never shuffled, the batch broadcasts
    // in and the verdicts broadcast back. Plants appended-edit near
    // dups (%10==4) and wholly novel rows (%10==6) under new ids.
    "dedup_incremental_near" -> ((s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val corpus = docs(s, dir)
      val storeDir = s"$tmp/graft_shinglestore_$key"
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
    }),

    // Full curation pipeline (language gate → quality gate → exact dedup
    // → near-dup cluster keep-min): every stage is an engine operator,
    // composed in the cost order a 100 TB pipeline wants — narrow
    // per-row gates shrink the corpus before the candidate joins run.
    "corpus_curate" -> ((s, dir) => {
      graft.text.Curation.curate(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified sampling: downsample English to 20%, keep
    // every other stratum whole (the classic rebalancing device).
    // Inclusion is a pure function of md5(doc_id ‖ salt) — replayable
    // under retries and recomputable by the oracle, unlike rand().
    "doc_sample_stratified" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("lang_id", TextAnalysis.languageId(col("text")))
      graft.ops.Sampling.stratifiedBernoulli(d, col("lang_id"),
          rates = Map("en" -> 0.2), defaultRate = 1.0, salt = "s1")
        .select(col("doc_id"), col("lang_id"))
        .orderBy(col("doc_id"))
    }),

    // Mixture resampling: re-weight the corpus toward a target source
    // distribution (30/30/40 over three sources; the rest dropped)
    // without upsampling — domain-mixture control, the knob every
    // pretraining data recipe turns. Thresholds are integer per-myriad
    // math from the source histogram (broadcast back; corpus never
    // shuffles), inclusion the usual md5 deviate.
    "corpus_mixture" -> ((s, dir) => {
      graft.ops.Sampling.mixtureResample(docs(s, dir), "source",
          Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4), salt = "mx")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-trained bigram LM score (perplexity filtering): add-one-
    // smoothed transition probabilities from the corpus's own unigram/
    // bigram counts, each ln quantized to micro-units before summing so
    // the aggregate is an exact integer any engine reproduces.
    "doc_lm_score" -> ((s, dir) => {
      // the fixture vocabulary is tiny — take the broadcast-unigram path
      // (the open-vocabulary shuffle form is spec-pinned to match it)
      TextAnalysis.bigramLmScores(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    }),

    // Interpolated KNESER-NEY bigram scoring (Chen & Goodman '98, the
    // KenLM smoothing family) — cross-corpus: model statistics (bigram
    // counts, context totals, continuation-type counts) come from the
    // English slice, every document scores under them. Per-gram
    // log-probs quantize to micro-nats before the per-doc integer sum;
    // the oracle retrains all four model aggregates in SQL and replays
    // the same float64 expression tree, D = 0.75 literal included.
    "doc_kn_score" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knBigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }),

    // SPAN-level KN scoring — quality LOCALIZATION: sliding 32-token
    // windows every 16 score under the same cross-corpus KN model, so
    // boilerplate runs and encoding garbage surface as low-scoring
    // spans inside otherwise-good documents (the CCNet paragraph idea
    // on token windows). One row per (doc, window).
    "doc_kn_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScores(d, d.filter(col("lang") === "en"),
          windowTokens = 32, stride = 16)
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // SPAN-quality SCRUB — the action the span scores exist for: drop
    // non-overlapping 32-token windows whose per-bigram KN mean falls
    // >1.5 nats below the DOC's own mean (per-doc relative cut — a
    // uniformly-bad doc is left for the doc gate, not emptied here),
    // and reassemble the survivors. The verdict is exact integer
    // cross-multiplication, never a float divide.
    "doc_kn_scrub" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScrub(d, d.filter(col("lang") === "en"),
          windowTokens = 32, marginMicro = 1500000L)
        .orderBy(col("doc_id"))
    }),

    // TRIGRAM interpolated Kneser-Ney — the full order-N recursion of
    // the KenLM family: raw counts at the top, continuation TYPE
    // counts at the middle level, the add-one-floored continuation
    // distribution at the bottom, with the proper two-stage backoff
    // cascade for unseen contexts. Six model aggregates off the
    // English slice; the oracle retrains all six and replays the
    // nested float64 CASE tree.
    "doc_kn3_score" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knTrigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }),

    // Model-based filtering with TRAINED weights: closed-form
    // multinomial Naive-Bayes log-odds per hashed feature bucket, fit
    // on the corpus itself labeled by its lang column (positive class =
    // 'en'), then scored in the fastText feature-hashing shape. The
    // oracle retrains the same closed form in SQL — bucket counts, the
    // same smoothed ln-quantized weights, the same per-doc sums — so
    // every weight is provably derived from the data, not a hash.
    // keep = score > 0 (the NB verdict "more likely en than not").
    "doc_classifier_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = TextAnalysis.nbBucketWeights(d, col("lang") === "en")
      TextAnalysis.classifierScores(d, w)
        .withColumn("keep", col("score_sum") > 0)
        .orderBy(col("doc_id"))
    }),

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
    "corpus_lr_train" -> ((s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, docs(s, dir), artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      graft.text.LogReg.modelFromArtifact(s, artDir)
    }),

    // Classifier-guided data SELECTION (the DCLM/fastText move: train
    // a quality classifier, keep the top slice by score): top-100 docs
    // by LR score with deterministic (score DESC, id) tie-break — a
    // TakeOrdered cut, never a global sort.
    "corpus_lr_select" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      val feats = graft.text.LogReg.features(d, vocab, col("lang") === "en")
      graft.text.LogReg.scores(feats, w)
        .select(col("doc_id"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(100)
    }),

    // Scoring under the trained LR model (via the shared artifact):
    // per-doc rational-sigmoid score, prediction, label, verdict — the
    // measured-accuracy record lives under the hash gate.
    "doc_lr_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
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
    }),

    // Epoch-upsampling mixture: 50/30/20 over three sources within 4
    // epochs — src0 runs 4 full epochs, src1 lands between 2 and 3
    // (deterministic md5-deviate fraction gets the 3rd), src2 between
    // 1 and 2. One row per (doc, epoch); pure integer threshold math.
    "corpus_epochs" -> ((s, dir) => {
      graft.ops.Sampling.upsampleToMixture(docs(s, dir), "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          maxEpochs = 4, salt = "ep")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // Deterministic corpus shuffle: the reproducible training order —
    // md5(id‖salt) range sort, seed-stable under retries and engines.
    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    // top-200 docs by u^(1/w) rank keys, w = token count — the
    // token-budget-proportional sample. One narrow key map + a
    // TakeOrdered cut; micro-quantized ln keys, id tie-break.
    "corpus_weighted_sample" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      graft.ops.Sampling.weightedSample(d, m = 200,
          weight = col("n_toks"), salt = "ws")
        .select(col("doc_id"), col("n_toks"), col("es_key"))
    }),

    "corpus_shuffle" -> ((s, dir) => {
      graft.ops.Sampling.shuffleOrder(docs(s, dir), salt = "sh")
        .select(col("doc_id"), col("shuffle_key"))
    }),

    // Corpus report: per-(source, lang) row counts, token volume, and
    // ln-quantized quality sums — the reporting rollup a curation run
    // ships with. One shuffle on the tiny (source, lang) key space.
    "corpus_report" -> ((s, dir) => {
      val d = docs(s, dir)
      d.groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          sum(floor(TextAnalysis.qualityScore(col("text")) * 1e6).cast("long")).as("quality_micro"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"), col("lang"))
    }),

    // Leakage-safe train/val/test split: the split label is a function
    // of the near-dup CLUSTER id (docs outside any cluster group alone),
    // so near-duplicates of a training doc can never leak into eval —
    // the contamination-control op every pretraining corpus needs. The
    // cluster map is a PERSISTED, fingerprint-guarded artifact
    // (Dedup.clusterArtifact): built once per corpus snapshot, every
    // split/report joins against the parquet — the query measures the
    // join, not a per-consumer recompute of the candidate join + CC.
    "corpus_split" -> ((s, dir) => {
      val d = docs(s, dir)
      val cc = Dedup.clusterArtifact(d, ivfLayoutDir(dir, "docclusters"),
        n = 3, minJaccard = 0.3, maxShingleDf = 500L)
      d.join(cc, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split", graft.ops.Sampling.groupedSplit(col("grp"), salt = "sp1"))
        .select(col("doc_id"), col("grp"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing into 256-token context windows: docs hash into 8
    // independent parts (pure function of the id), each packed by a
    // greedy in-id-order scan — embarrassingly parallel, and the oracle
    // replays every bin assignment with a per-part recursive recurrence.
    "seq_pack" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packGreedy(d, budget = 256L, nParts = 8)
        .orderBy(col("doc_id"))
    }),

    // Per-source document cap (C4/RefinedWeb per-domain cap): keep the
    // first 40 docs by id of every source. Naive window-rank form; the
    // TopKWindowRewrite (setupSession) plans it as the bounded row_topk
    // aggregate — plan-audited — while the result must still equal the
    // DuckDB window-form oracle exactly.
    "corpus_source_cap" -> ((s, dir) => {
      graft.ops.Sampling.capPerGroup(docs(s, dir), col("source"), col("doc_id"), cap = 40)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy(col("source"), col("rk"))
    }),

    // Token-budget mix: best-quality-first selection per source until a
    // cumulative token quota is spent — the budgeted variant of the
    // row cap above (a mix recipe speaks in tokens, not rows). The
    // first row of a group always survives even if it alone overshoots.
    "corpus_token_budget" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.tokenBudgetPerGroup(d, col("source"),
          Seq(col("q").desc, col("doc_id").asc), col("n_tokens"), budget = 600L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Packed-sequence MATERIALIZATION: the trainer-facing output of
    // seq_pack — each (part, bin) emits its docs' text concatenated in
    // id order. The oracle replays the greedy recurrence AND the
    // ordered string_agg, so the whole pack→emit path is hash-pinned.
    "seq_pack_text" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.ops.Packing.packGreedy(
        d.select("doc_id", "n_tokens"), budget = 256L, nParts = 8)
      graft.ops.Packing.packText(packed, d, sep = "\n")
        .select(col("part"), col("bin_idx"), col("n_docs"),
          md5(col("packed_text")).as("packed_md5"))
        .orderBy(col("part"), col("bin_idx"))
    }),

    // SLIDING-window aggregation (1 h window / 30 min slide): each event
    // lands in exactly two overlapping windows. Spark's window()
    // generation is checked against an independent arithmetic oracle
    // (the two grid-aligned starts per event) — the tumbling analogue
    // is events_hourly.
    "events_sliding" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // Cohort retention: users bucketed by first-seen day, counted as
    // active per day offset — the engagement rollup every event
    // pipeline ships. The distinct (user, day) pass makes the final
    // count a plain count, no countDistinct re-shuffle.
    "events_retention" -> ((s, dir) => {
      graft.ops.EventAnalytics.cohortRetention(events(s, dir))
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // Batch sessionization: gap-split per-user sessions via the
    // lag-flag-cumsum window (the batch twin of the streaming
    // flatMapGroupsWithState sessionizer, which a SQL oracle can't
    // replay; this form it can, exactly).
    "events_sessions" -> ((s, dir) => {
      graft.ops.EventAnalytics.sessionize(events(s, dir), gapSec = 1800L)
        .orderBy(col("user_id"), col("session_id"))
    }),

    // Hot-key-safe as-of variant (per-(key, day-bucket) windows with a
    // carry-in pass) — declared against the SAME oracle as events_asof:
    // the salted plan must reproduce the plain as-of bit-for-bit.
    "events_asof_salted" -> ((s, dir) => {
      val e = events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("signup_ts"))
      graft.ops.Joins.asOfJoinSalted(clicks, signups, "user_id", "click_ts", "signup_ts",
          bucketSec = 86400L)
        .select(
          col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          col("event_id"),
          unix_micros(col("signup_ts")).as("signup_us"))
        .orderBy(col("user_id"), col("click_us"), col("event_id"))
    }),

    // Structured Streaming end-to-end, driver-checked: the events table
    // replayed as a FILE STREAM through the library's watermarked
    // windowed aggregation (Trigger.AvailableNow, complete mode); the
    // finished result must hash-match the batch SQL oracle — streaming
    // and batch semantics agree on the same data. Results flow through a
    // foreachBatch PARQUET sink and are read back — executor→disk→
    // executor, nothing materialized on the driver, so the declared
    // shape is the one that survives an unbounded result at scale.
    "stream_hourly" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // the fixture is a single file and the file-stream source wants a
      // directory: stream the parent with a glob pinned to this table
      val stream = fixEventTs(s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      val counts = graft.streaming.StreamingIngest.windowedCounts(stream, "1 hour", "10 minutes")
      runStreamToParquet(s, counts, outputMode = "complete",
          overwrite = true, tag = "stream_hourly")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n_events"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // Streaming exact dedup, driver-checked: the documents table
    // replayed as a file stream through streamingDedup (watermarked
    // dropDuplicates on the content hash — bounded state, unlike a
    // global distinct). WHICH row represents a hash is micro-batch
    // order-dependent, so the declared output is the deterministic part:
    // the distinct content-hash set, which must equal the batch DISTINCT.
    "stream_dedup" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val deduped = graft.streaming.StreamingIngest.streamingDedup(stream, delay = "1 hour")
      runStreamToParquet(s, deduped.select(col("content_hash")),
          outputMode = "append", overwrite = false, tag = "stream_dedup")
        .orderBy(col("content_hash"))
    }),

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
    "stream_fuzzy_resolve" -> ((s, dir) => {
      val scratch = scratchDir("stream_fuzzy_resolve")
      val storeDir = s"$scratch/store"
      val seedDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_seedfuzzy_${dirKey(dir)}"
      val cust = tbl(s, dir, "customer")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), seedDir, "c_custkey", "c_name")
      copyDir(seedDir, storeDir)
      val slice = cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_name"))
      val inDir = s"$scratch/in"
      writeBatchInputs(inDir, Seq(
        slice.filter(col("c_custkey") % 14 === 0),
        slice.filter(col("c_custkey") % 14 =!= 0)))
      val stream = s.readStream.schema(slice.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.StreamingIngest.streamingFuzzyResolve(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk",
        "c_custkey", "c_name")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_fuzzy_resolve",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("c_custkey"), col("is_new"), col("dup_of"), col("dist"))
        .orderBy(col("c_custkey"))
    }),

    "stream_incremental" -> ((s, dir) => {
      val scratch = scratchDir("stream_incremental")
      val storeDir = s"$scratch/store"
      // seed store built once per dataset (sidecar), copied per run —
      // the stream appends to its copy (same device as the near leg)
      val seedDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_seedhash_${dirKey(dir)}"
      graft.dedup.Dedup.ensureHashStore(
        s, docs(s, dir).filter(col("doc_id") % 3 === 0), seedDir)
      copyDir(seedDir, storeDir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.StreamingIngest.streamingIncrementalDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_incremental",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("is_new"), col("dup_of"))
        .orderBy(col("doc_id"))
    }),

    // STORE-backed streaming incremental NEAR-dup: the crawl loop's
    // near-duplicate leg — seed a shingle-posting store from the
    // %3==0 corpus slice, stream the documents table through
    // batch-vs-store Jaccard verdicts, append novel docs' postings
    // for the next batch. Executor state is ZERO by design (durable
    // memory is the posting artifact); side effects are batch-keyed
    // overwrites, so redelivery is idempotent. The oracle rebuilds
    // the seed store and replays the single-file micro-batch.
    "stream_incremental_near" -> ((s, dir) => {
      val scratch = scratchDir("stream_incremental_near")
      val storeDir = s"$scratch/store"
      // the SEED posting store is a build-once artifact per dataset
      // (fingerprint sidecar in tmpdir); each run FILE-COPIES it into
      // its own scratch — the stream mutates its copy (posting
      // appends), so runs stay isolated without re-tokenizing the seed
      // corpus per invocation
      val seedDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_seedshingle_${dirKey(dir)}"
      graft.dedup.Dedup.ensureShingleStore(
        s, docs(s, dir).filter(col("doc_id") % 3 === 0), seedDir)
      copyDir(seedDir, storeDir)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val q = graft.streaming.StreamingIngest.streamingIncrementalNearDedup(
        stream, storeDir, s"$scratch/sink", s"$scratch/chk")
      q.awaitTermination()
      SparkEntry.streamStateRows.put("stream_incremental_near",
        q.recentProgress.iterator
          .map(p => p.stateOperators.map(_.numRowsTotal).sum)
          .foldLeft(0L)(math.max))
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"), col("is_novel"), col("near_dup_of"),
          col("jaccard_dist"))
        .orderBy(col("doc_id"))
    }),

    // Streaming curation replay: language + quality gates feeding the
    // watermarked exact dedup, over the documents table as a file
    // stream. As with stream_dedup, WHICH row represents a hash is
    // micro-batch order-dependent, so the declared output is the
    // deterministic part: the distinct content-hash set of gate
    // survivors, equal to the batch gates + DISTINCT.
    "stream_curate" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      val curated = graft.streaming.StreamingIngest.streamingCurate(
        stream, lang = "en", minQuality = 0.5, delay = "1 hour")
      runStreamToParquet(s, curated.select(col("content_hash")),
          outputMode = "append", overwrite = false, tag = "stream_curate")
        .orderBy(col("content_hash"))
    }),

    // Top-3 users per hour, written in the NAIVE window-rank form. Under
    // the TopKWindowRewrite rule — enabled once in setupSession, NOT
    // here: a thunk-level enable() mutated the shared session and made
    // later queries' plans order-dependent — the optimizer replaces the
    // per-hour sort with the bounded row_topk aggregate (plan-audited),
    // and the result must still equal the window-form oracle exactly.
    "events_top3_hourly" -> ((s, dir) => {
      val counts = events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour")).orderBy(col("n_events").desc, col("user_id").asc)
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("hour"), col("rank"))
    }),

    // Tumbling 1-hour window aggregation — the batch shape of the
    // streaming windowed agg (value summed in exact integer milli-units:
    // float sums are partition-order-dependent).
    "events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli"))
        .orderBy(col("hour"), col("event_type"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "knn_exact_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The epsilon-ball with the exact kernel arithmetic; the <= 2.0
    // boundary is bit-exact on both engines (identical left-assoc
    // float64 distance), so membership can never disagree.
    "knn_range" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT vec_id, dist FROM d WHERE dist <= 2.0
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,

    // The one-statement SQL epsilon-ball through the registered
    // kernel: identical rows and boundary required.
    "sql_range_search" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT vec_id, dist FROM d WHERE dist <= 2.0
         |ORDER BY dist ASC, vec_id ASC""".stripMargin,

    // Same oracle as knn_exact_top10 — the SQL surface must produce
    // bit-identical distances through the registered function.
    "sql_knn_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The lang-id CASE twin + the quality formula twin, grouped.
    "sql_lang_quality" ->
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh,
         |  CAST(len(toks) AS DOUBLE) AS n_tok,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS stop
         |  FROM t),
         |l AS (SELECT doc_id,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang,
         |  least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |  (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS q
         |  FROM s)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(floor(q * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin,

    "knn_hamming_top10" ->
      s"""WITH $hammingSigCtes
         |SELECT s.vec_id AS vec_id,
         |       CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
         |FROM sigs s CROSS JOIN qs q
         |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin,

    // From-scratch Hamming ranking over the survivors: thresholds stay
    // fit on the FULL corpus (the trained-index contract — deletes
    // never refit), the deleted ids are exactly the raw top-3 minus
    // the self row, and the live probe must reproduce the ranking.
    "knn_hamming_delete" ->
      s"""WITH $hammingSigCtes,
         |h AS MATERIALIZED (
         |  SELECT s.vec_id AS vec_id,
         |         CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
         |  FROM sigs s CROSS JOIN qs q),
         |del AS (SELECT vec_id FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 3)
         |SELECT vec_id, hamming FROM h
         |WHERE vec_id NOT IN (SELECT vec_id FROM del WHERE vec_id <> 0)
         |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin,

    // From-scratch exact top-10 over (corpus − the query's 3 nearest
    // non-self neighbors) ∪ 5 planted copies appended AFTER the
    // delete: the masked SQ8 ADC + exact rerank must reproduce it.
    "knn_sq8_delete" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dists AS MATERIALIZED (
         |  SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |  FROM embeddings e CROSS JOIN q),
         |del AS (SELECT vec_id FROM dists WHERE vec_id <> 0
         |        ORDER BY dist ASC, vec_id ASC LIMIT 3),
         |c AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |      WHERE e.vec_id NOT IN (SELECT vec_id FROM del)
         |      UNION ALL
         |      SELECT 4600000 + r.i AS vec_id, e.embedding
         |      FROM embeddings e CROSS JOIN range(5) r(i) WHERE e.vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact top-10 over the CDC survivors: the top-3 non-self
    // neighbors were deleted, the NEAREST of them revived by a later
    // add batch (so only the other two stay deleted), and planted copy
    // 4800001 was deleted after streaming in.
    "stream_sq8_delete" ->
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
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The one-statement SQL path over the persisted signatures must
    // reproduce the identical ranking and distances.
    "sql_hamming_top10" ->
      s"""WITH $hammingSigCtes
         |SELECT s.vec_id AS vec_id,
         |       CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
         |FROM sigs s CROSS JOIN qs q
         |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_hamming_rescore" ->
      s"""WITH $hammingSigCtes,
         |short AS MATERIALIZED (
         |  SELECT s.vec_id FROM sigs s CROSS JOIN qs q
         |  ORDER BY CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) ASC, s.vec_id ASC
         |  LIMIT 50),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_prefix_rescore" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |short AS MATERIALIZED (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |  ORDER BY ${l2SqSql("e.embedding", "q.qe", dim = 16)} ASC, e.vec_id ASC
         |  LIMIT 50)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "emb_kmeans" -> quantKMeansOracleSql(k = 4, iters = 3),

    // The same full training replay, cut to the 20 farthest-from-own-
    // centroid vectors (dist DESC, id ASC) — the outlier ranking.
    "emb_outliers" -> quantKMeansOracleSql(k = 4, iters = 3,
      // final table name supplied by the builder: changing iters at
      // this call site can never silently query a stale round table
      finalSelect = Some(finalTbl =>
        s"""SELECT vec_id, cluster, dist AS dist_q
           |FROM $finalTbl ORDER BY dist_q DESC, vec_id ASC LIMIT 20""".stripMargin)),

    // The HNSW probe must reproduce the exact ranking end-to-end (the
    // sharded graphs cover the corpus and each shard's beam returns its
    // true local top-k on this data — recall additionally pinned by
    // knn_hnsw_check and HnswSpec).
    "knn_hnsw_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact per-query brute force — the one-scan batch ADC + rerank
    // must reproduce the full relation for all 3 queries.
    "knn_sq8_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    // The SQL batch route shares knn_sq8_batch's contract exactly
    // (ADC shortlist 1000 + exact rerank = exact per-query top-10).
    "sql_knn_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    // Exact per-query brute force over corpus ∪ planted — the pruned
    // batch probe must reproduce the full relation for all 3 queries
    // (shared verbatim by the one-statement SQL route).
    "sql_ivf_batch" -> knnIvfBatchOracleSql,
    "knn_ivf_batch" -> knnIvfBatchOracleSql,

    // Exact per-query brute force — the graph walk must reproduce the
    // full (query_id, vec_id, dist, rank) relation for all 5 queries.
    "knn_hnsw_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    "knn_hnsw_delete" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q
         |      WHERE e.vec_id NOT IN (0, 1, 2))
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The canonical rebuild WITHOUT the tombstoned nodes must probe to
    // the same survivors-only brute force — identical oracle to the
    // mask-based knn_hnsw_delete, but the engine pays no exclusion.
    "knn_hnsw_compact" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q
         |      WHERE e.vec_id NOT IN (0, 1, 2))
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_hnsw_check" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS bad_dist,
        |       CAST(0 AS BIGINT) AS rank_violations, CAST(0 AS BIGINT) AS over_k,
        |       CAST(1 AS BIGINT) AS recall_ok""".stripMargin,

    "knn_mmr" -> mmrOracleSql(k = 8, shortlist = 20),

    "knn_hamming_recall" ->
      s"""WITH $hammingSigCtes,
         |short AS MATERIALIZED (
         |  SELECT s.vec_id FROM sigs s CROSS JOIN qs q
         |  ORDER BY CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) ASC, s.vec_id ASC
         |  LIMIT 50),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |exact AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |          ORDER BY ${l2SqSql("e.embedding", "q.qe")} ASC, e.vec_id ASC
         |          LIMIT 10)
         |SELECT CAST(50 AS INTEGER) AS shortlist, CAST(10 AS INTEGER) AS k,
         |       count(*) AS n_hit,
         |       CAST(count(*) AS DOUBLE) / 10.0 AS recall
         |FROM exact JOIN short USING (vec_id)""".stripMargin,

    "knn_join_top5" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    "knn_join_agg_top5" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    // Brute force with the label inequality applied BEFORE ranking —
    // equivalent to the filtered bounded aggregation.
    "knn_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |           FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q WHERE e.label <> q.ql),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin,

    "knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id,
         |             row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
         |      FROM d),
         |nn AS (SELECT query_id, vec_id FROM r WHERE rank <= 10),
         |v AS (SELECT nn.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
         |      FROM nn JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |t AS (SELECT query_id, label, votes,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS INTEGER) AS rn,
         |        CAST(sum(votes) OVER (PARTITION BY query_id) AS BIGINT) AS n_neighbors
         |      FROM v)
         |SELECT query_id, label AS pred_label, votes, n_neighbors FROM t
         |WHERE rn = 1 ORDER BY query_id""".stripMargin,

    // Exact brute force over the same planted corpus — the ten dist-0
    // rows (query self-match + nine exact copies) are guaranteed LSH
    // candidates, so the approximate search must reproduce this exactly.
    "knn_lsh_top10" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 3000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(9) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_lsh_check" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS bad_dist,
        |       CAST(0 AS BIGINT) AS rank_violations, CAST(0 AS BIGINT) AS over_k,
        |       CAST(1 AS BIGINT) AS recall_ok""".stripMargin,

    // The invariant counts hold for ANY candidate set the LSH index
    // surfaces (distances recomputed exactly, radius respected, ranks
    // consistent, ≤ k per query), so the expected summary is constant.
    "knn_join_approx" ->
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(0 AS BIGINT) AS bad_dist,
        |       CAST(0 AS BIGINT) AS out_of_radius, CAST(0 AS BIGINT) AS rank_violations,
        |       CAST(0 AS BIGINT) AS over_k""".stripMargin,

    // Recomputes the expected decode output from the fixture's id
    // arithmetic: dims w = 64+(i*13)%960, h = 64+(i*7)%540; WAV sample
    // frames 100+i%400 at 16-bit × (1+i%2) channels; MJPEG 1+i%5
    // frames. Byte sizes are the container constants — header-only JPEG
    // = 23 bytes (SOI + SOF0[17] + EOI), minimal PNG = 45 (sig + IHDR +
    // IEND), canonical WAV header = 44 + data. The Spark side gets these
    // numbers by PARSING the real headers MediaCodecs wrote, so the
    // match proves writer and parser agree through the byte format.
    "media_decode_stats" ->
      """WITH t AS (SELECT i AS media_id,
        |    CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    64 + (i*13) % 960 AS w, 64 + (i*7) % 540 AS h,
        |    1 + i % 2 AS ch, 100 + i % 400 AS af, 1 + i % 5 AS vf,
        |    (i // 3) % 2 AS png  -- image rows alternate JPEG (0) / PNG (1)
        |  FROM range(200) t(i))
        |SELECT media_id, modality,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE w END AS INTEGER) AS width,
        |  CAST(CASE modality WHEN 'audio' THEN 0 ELSE h END AS INTEGER) AS height,
        |  CAST(CASE modality WHEN 'image' THEN 1 WHEN 'audio' THEN af ELSE vf END AS INTEGER) AS n_frames,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*vf END AS BIGINT) AS n_bytes,
        |  CAST(CASE modality WHEN 'video' THEN least(4, vf) ELSE 1 END AS BIGINT) AS frames_sampled,
        |  CAST(CASE modality WHEN 'image' THEN CASE WHEN png = 1 THEN 45 ELSE 23 END
        |       WHEN 'audio' THEN 44 + af*ch*2 ELSE 23*least(4, vf) END AS BIGINT) AS frame_bytes
        |FROM t
        |ORDER BY media_id""".stripMargin,

    // Replays the whole resize pipeline arithmetically: fit-within dims
    // via the same floor divisions, header length from the dims' digit
    // counts, and the raster checksum as a sum over every output pixel
    // of the source-pixel channel formulas at (⌊x·w/dw⌋, ⌊y·h/dh⌋).
    "media_resize_stats" ->
      """WITH t AS (SELECT i AS media_id, 8 + i % 97 AS w, 8 + i % 89 AS h FROM range(200) t(i)),
        |d AS (SELECT media_id, w, h,
        |        CASE WHEN w <= 32 AND h <= 32 THEN w
        |             WHEN w >= h THEN 32 ELSE greatest(1, (w*32)//h) END AS dw,
        |        CASE WHEN w <= 32 AND h <= 32 THEN h
        |             WHEN w >= h THEN greatest(1, (h*32)//w) ELSE 32 END AS dh
        |      FROM t),
        |s AS (SELECT media_id, dw, dh,
        |        list_sum([  (7*(((p % dw)*w)//dw) + 13*(((p // dw)*h)//dh)) % 251
        |                  + (3*(((p % dw)*w)//dw) +  5*(((p // dw)*h)//dh)) % 241
        |                  + (11*(((p % dw)*w)//dw) + 2*(((p // dw)*h)//dh)) % 239
        |                  FOR p IN range(0, dw*dh)]) AS rgb_sum
        |      FROM d)
        |SELECT media_id, CAST(dw AS INTEGER) AS width, CAST(dh AS INTEGER) AS height,
        |       CAST(9 + length(CAST(dw AS VARCHAR)) + length(CAST(dh AS VARCHAR)) + 3*dw*dh AS BIGINT) AS n_bytes,
        |       CAST(rgb_sum AS BIGINT) AS rgb_sum
        |FROM s ORDER BY media_id""".stripMargin,

    // Replays the whole feature-extraction path arithmetically: the
    // image vectors as the 4×4-grid subsampled pixel-channel formulas
    // (sx = cx·w//4, sy = cy·h//4 — the resizePpmNearest floor map),
    // the audio vectors as integer frame stats over the replayed PCM
    // sample list. The Spark side gets the same numbers by PARSING the
    // real PPM/WAV bytes the fixture encodes.
    "media_features" ->
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic),
         |aud AS (SELECT i AS media_id, 120 + i % 80 AS n FROM range(100, 200) t(i)),
         |asmp AS (SELECT media_id, n,
         |           [ ((j*37 + media_id*101) % 4001) - 2000 FOR j IN range(0, n) ] AS smp
         |         FROM aud),
         |ast AS (SELECT media_id, n, [abs(x) FOR x IN smp] AS ab,
         |          list_sum([ CASE WHEN (smp[j+1] < 0) <> (smp[j] < 0) THEN 1 ELSE 0 END
         |                     FOR j IN range(1, n) ]) AS zc
         |        FROM asmp),
         |av AS (SELECT media_id,
         |         [ n, list_sum(ab) // n, zc, list_max(ab), $BandEnergySql ] AS v
         |       FROM ast),
         |allv AS (SELECT media_id, v FROM iv UNION ALL SELECT media_id, v FROM av)
         |SELECT media_id, CAST(len(v) AS INTEGER) AS n_dims,
         |       CAST(list_sum(v) AS BIGINT) AS f_sum,
         |       CAST(list_min(v) AS BIGINT) AS f_min,
         |       CAST(list_max(v) AS BIGINT) AS f_max
         |FROM allv ORDER BY media_id""".stripMargin,

    // Brute-force cosine join over the REPLAYED image feature vectors at
    // the same 0.999 gate: equals the SRP-banded Spark search — the 20
    // planted red-bump pairs sit at cos ≥ 0.99993 and the 15 natural
    // gradient pairs above the gate are found with band-miss probability
    // ≈ 1e-11 under the fixed seed (verified: 35/35 hash-match).
    // Integer-valued features make every dot product exact, so cos_sim
    // is bit-identical across engines.
    "media_feature_dups" ->
      s"""WITH ip AS (SELECT i AS media_id,
         |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
         |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
         |       FROM range(100) t(i)),
         |ic AS (SELECT media_id, base, bump,
         |         8 + base % 23 AS w, 8 + base % 19 AS h,
         |         5 + base % 11 AS a, 7 + base % 13 AS bm
         |       FROM ip),
         |iv AS (SELECT media_id, [ $ImgFeatDimSql FOR d IN range(0, 48) ] AS v FROM ic)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       (${dotSql("a.v", "b.v", 48)})
         |         / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) AS cos_sim
         |FROM iv a JOIN iv b ON a.media_id < b.media_id
         |WHERE (${dotSql("a.v", "b.v", 48)})
         |        / (sqrt(${dotSql("a.v", "a.v", 48)}) * sqrt(${dotSql("b.v", "b.v", 48)})) >= 0.999
         |ORDER BY id_a, id_b""".stripMargin,

    // Rebuilds every image's 64-bit dHash from the fixture's pixel
    // formulas — grid sampling, gray sums, comparisons, and bit packing
    // all in integer SQL — so the Spark path from real P6 container
    // bytes to signature must agree bit for bit.
    "media_dhash" ->
      s"""WITH $DHashCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
         |       dhash
         |FROM dh ORDER BY media_id""".stripMargin,

    // Brute-force O(n²) pair truth over the replayed hashes at
    // hamming ≤ 3: the Spark side's banded candidate join (pigeonhole
    // complete for the threshold) must return exactly this set — the 20
    // planted +1-brightness near-dups at hamming 0 included.
    "media_dhash_dedup" ->
      s"""WITH $DHashCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM dh a JOIN dh b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Rebuilds every clip's energy-delta fingerprint from the fixture's
    // integer PCM formulas — the Spark path from real RIFF/PCM bytes to
    // signature must agree bit for bit.
    "media_audio_fp" ->
      s"""WITH $AudioFpCteSql
         |SELECT CAST(media_id AS BIGINT) AS media_id,
         |       CAST(n AS INTEGER) AS n_samples, fp
         |FROM afp ORDER BY media_id""".stripMargin,

    // Brute-force pair truth over the replayed fingerprints at
    // hamming ≤ 3 — the banded Spark join must equal it, planted
    // double-volume clips at hamming 0 included.
    "media_audio_fp_dedup" ->
      s"""WITH $AudioFpCteSql
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM afp a JOIN afp b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Replays the seed signature store (ids < 50) and the single-file
    // micro-batch's banded-Hamming verdicts: near_dup_of = the seed id
    // at minimal (hamming, id) within ≤ 3, novel otherwise.
    "stream_media_dedup" ->
      s"""WITH $DHashCteSql,
         |seed AS (SELECT media_id AS s_id, dhash AS ssig FROM dh WHERE media_id < 50),
         |m AS (SELECT b.media_id, s.s_id,
         |        CAST(bit_count(xor(b.dhash, s.ssig)) AS INTEGER) AS hm
         |      FROM dh b JOIN seed s ON bit_count(xor(b.dhash, s.ssig)) <= 3),
         |r AS (SELECT media_id, s_id, hm,
         |        row_number() OVER (PARTITION BY media_id ORDER BY hm, s_id) AS rn
         |      FROM m)
         |SELECT CAST(d.media_id AS BIGINT) AS media_id,
         |       CASE WHEN r.s_id IS NULL THEN CAST(1 AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS is_novel,
         |       CAST(r.s_id AS BIGINT) AS near_dup_of,
         |       r.hm AS hamming
         |FROM dh d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (media_id)
         |ORDER BY media_id""".stripMargin,

    // Rederives the √n thresholds from the same histogram with the same
    // integer floor chain, then replays the md5 deviate filter.
    "corpus_temp_mixture" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |r AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS t FROM c),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tr FROM r),
        |th AS (SELECT source, n, least(10000, ((300 * t) // tr) * 10000 // n) AS thresh FROM r, tot),
        |h AS (SELECT d.doc_id, d.source, th.thresh,
        |        list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'tm2')[i]) AS BIGINT) - 1)
        |                  * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
        |      FROM documents d JOIN th USING (source))
        |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin,

    // Replays the window arithmetic (K = ⌈(n−32)/24⌉ via integer ceil)
    // and pins every chunk's content hash.
    "doc_chunks" ->
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
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "corpus_vocab" ->
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, CAST(count(*) AS BIGINT) AS n FROM occ
         |GROUP BY 1 ORDER BY n DESC, token LIMIT 40""".stripMargin,

    "corpus_token_spectrum" ->
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences FROM occ GROUP BY 1)
         |SELECT occurrences, CAST(count(*) AS BIGINT) AS n_tokens
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // BPE: the oracle replays the identical rounds — weighted pair
    // counts over the distinct-word table, (n desc, a, b) argmax, and
    // the SAME greedy left-fold application via list_reduce (string
    // replace would mis-merge self-pair runs like 'a a a a').
    "corpus_bpe_merges" -> BpeOracleSql,
    "corpus_bpe_merges_batch" -> bpeBatchOracleSql(rounds = 8, batchSize = 16, candCap = 256),
    "corpus_bpe_vocab" -> bpeBatchVocabOracleSql(rounds = 8, batchSize = 16, candCap = 256, topK = 50),
    "doc_bpe_tokenize_batch" -> bpeBatchTokenizeOracleSql(rounds = 8, batchSize = 16, candCap = 256),
    "doc_bpe_tokenize_ext" -> bpeExtTokenizeOracleSql(maxIters = 16),
    "corpus_bpe_bytelevel" -> bpeByteLevelOracleSql(rounds = 4, batchSize = 8, candCap = 128),
    "doc_bytelevel_coverage" -> byteLevelCoverageOracleSql,
    "doc_bpe_bytelevel_tokenize" ->
      bpeByteLevelTokenizeOracleSql(rounds = 4, batchSize = 8, candCap = 128),
    // 36 unrolled layers >= the derived per-run bound at any SF (the
    // longest extended-corpus pretoken is 35 bytes; surplus layers are
    // no-ops on converged words) — asserted by BpeExtSpec
    "doc_bpe_tokenize_gpt2" -> bpeGpt2TokenizeOracleSql(maxIters = 36),
    "doc_bpe_token_ids" -> bpeTokenIdsOracleSql(maxIters = 36),

    // Fertility report: the gpt2 id machinery + the lang-id CASE twin
    // (sql_lang_quality's device), grouped per language with
    // micro-quantized floor-division ratios.
    "corpus_fertility" ->
      s"""${gpt2IdsCtes(36)},
         |f AS (SELECT e.doc_id, $NormSql AS norm,
         |             CAST(len(i.tids) AS BIGINT) AS n_sub
         |      FROM ext e JOIN ids i USING (doc_id)),
         |g AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks, n_sub FROM f),
         |sc AS (SELECT doc_id, n_sub,
         |  CAST(length(norm) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM g),
         |l AS (SELECT doc_id, n_chars, n_words, n_sub,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang
         |  FROM sc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS sum_words,
         |       CAST(sum(n_sub) AS BIGINT) AS sum_subwords,
         |       CAST((sum(n_sub) * 1000000) // greatest(sum(n_words), 1) AS BIGINT) AS fertility_micro,
         |       CAST((sum(n_chars) * 1000000) // greatest(sum(n_sub), 1) AS BIGINT) AS cps_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin,
    "doc_hf_tokenizer_json" -> hfTokenizerOracleSql(maxIters = 36),
    "doc_detokenize" -> detokenizeOracleSql(maxIters = 36),
    "corpus_unigram_vocab" -> unigramVocabOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150),
    "doc_unigram_tokenize" -> unigramTokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150),
    "doc_unigram_ids" -> unigramIdsOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150),
    "doc_unigram_byte_fallback" -> unigramByteFallbackOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150),
    "doc_unigram_detokenize" -> unigramDetokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150),
    "doc_unigram_coverage" -> unigramCoverageOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800),
    "corpus_wordpiece_merges" -> wpMergesOracleSql(numMerges = 8),
    "doc_wordpiece_tokenize" -> wpTokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10),
    "doc_wordpiece_ids" -> wpIdsOracleSql(numMerges = 8, unroll = 40, lmax = 10),
    "doc_wordpiece_detokenize" -> wpDetokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10),
    "doc_wordpiece_ext_vocab" -> wpExtVocabOracleSql(unroll = 40),
    // streaming over a PARTITION of the corpus == the batch run —
    // statelessness replayed as plain batch semantics
    "stream_tokenize_ids" -> unigramStreamTokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800),
    "doc_unigram_ext_model" -> unigramExtModelOracleSql(maxPieceLen = 4),
    "doc_token_windows" -> tokenWindowsOracleSql(maxIters = 36, window = 64, stride = 48),
    "seq_pack_ids" -> seqPackIdsOracleSql(maxIters = 36, budget = 512L, nParts = 8),

    "seq_sft_mask" -> sftMaskOracleSql(maxIters = 36, turnLen = 8, keyStride = 1000000L),

    // The identical integer-division split math over the raw text.
    "doc_fim_transform" ->
      """WITH s AS (SELECT doc_id, text,
        |             len(text) // 3 AS c1, (len(text) * 2) // 3 AS c2
        |           FROM documents)
        |SELECT doc_id,
        |       '<PRE>' || substr(text, 1, c1)
        |         || '<SUF>' || substr(text, c2 + 1)
        |         || '<MID>' || substr(text, c1 + 1, c2 - c1) AS fim_text,
        |       CAST(c2 - c1 AS BIGINT) AS n_mid_chars
        |FROM s ORDER BY doc_id""".stripMargin,

    // The streaming packer's id-ascending two-batch replay equals the
    // batch packGreedy exactly (carryover across the batch boundary is
    // what makes them equal — a flushed tail bin would shift every
    // later bin index), so the oracle IS the batch recurrence.
    "stream_pack_ids" ->
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
         |SELECT doc_id, part, bin_idx FROM pack ORDER BY doc_id""".stripMargin,

    // Train→apply: same rounds with the word key carried through, then
    // positional re-tokenization of every document; md5 byte-check.
    "doc_bpe_tokenize" -> BpeTokenizeOracleSql,

    // Phrase rewrite: the oracle re-derives the same top-20 adjacent
    // collocations (the doc_pmi_pairs arithmetic at window 1) and
    // replays the greedy fold via list_reduce keyed by the phrase set;
    // the md5 of the rewritten text must match byte-for-byte.
    "doc_phrase_rewrite" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |pr AS (SELECT toks[i] AS a, toks[i+1] AS b
         |       FROM t, unnest(range(1, len(toks))) AS u(i)),
         |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
         |uc AS (SELECT w, count(*) AS n_w
         |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM uc),
         |tp AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS n_pairs FROM pc),
         |sel AS (SELECT pc.a, pc.b,
         |    CAST(floor(ln((CAST(pc.n_ab AS DOUBLE) / tp.n_pairs) /
         |         ((CAST(ua.n_w AS DOUBLE) / tt.n_tok) *
         |          (CAST(ub.n_w AS DOUBLE) / tt.n_tok))) * 1000000.0) AS BIGINT) AS pmi_micro
         |  FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w, tt, tp
         |  WHERE pc.n_ab >= 5 ORDER BY pmi_micro DESC, pc.a, pc.b LIMIT 20),
         |ph AS (SELECT list(a || ' ' || b) AS ps FROM sel),
         |rw AS (SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 1 THEN toks ELSE
         |      list_reduce(list_transform(toks, s -> [s]),
         |        (acc, x) -> CASE WHEN list_contains(ph.ps, acc[-1] || ' ' || x[1])
         |                    THEN list_append(acc[1:-2], acc[-1] || '_' || x[1])
         |                    ELSE list_concat(acc, x) END)
         |    END AS mtoks
         |  FROM t, ph)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(mtoks) AS BIGINT) AS n_tokens_after,
         |       md5(array_to_string(mtoks, ' ')) AS text_md5
         |FROM rw ORDER BY doc_id""".stripMargin,

    // PMI: identical double ops in identical order (pair prob over the
    // product of unigram probs), micro-quantized ln — ranking and
    // hashing happen on the integer, the tf-idf/BM25 convention.
    // Replays the co-occurrence graph build (canonical unordered
    // pairs, min-count cut) and 5 UNROLLED integer PageRank rounds —
    // the same (r*850000) // (deg*1000000) floor contributions.
    "corpus_textrank" -> {
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
    },

    "doc_pmi_pairs" ->
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
         |ORDER BY pmi_micro DESC, pc.a, pc.b LIMIT 30""".stripMargin,

    // BM25: identical double ops in identical order, per-term micro
    // quantization, integer per-doc sum — Lucene idf variant
    "doc_bm25_top20" -> Bm25OracleSql,

    // IDENTICAL SQL as doc_bm25_top20: the indexed path must produce
    // the same rows through the persisted posting lists — the matching
    // hash is the equivalence proof (decontaminate_bloom's device).
    "doc_bm25_indexed" -> Bm25OracleSql,

    // Every query of the batch replayed from scratch and unioned — a
    // matching hash proves the shared-probe batch path equals N
    // independent single-query probes bit-for-bit.
    "doc_bm25_batch" -> bm25BatchOracleSql(Bm25BatchQueries, topN = 10),

    // The one-statement SQL route shares the batch fixture and oracle —
    // same pruned-probe arithmetic, same per-query ranking.
    "sql_bm25_batch" -> bm25BatchOracleSql(Bm25BatchQueries, topN = 10),

    // Per-phrase token-slice replays, unioned under their query ids.
    "doc_phrase_batch" -> phraseBatchOracleSql(PhraseBatchQueries),
    // And the one-statement SQL surface over the same postings table.
    "sql_bm25_topk" -> Bm25OracleSql,

    // From-scratch BM25 over documents ∪ the planted stream batches:
    // the delta-aware probe (base + folded deltas + one live delta,
    // merged stats) must reproduce it exactly.
    "stream_bm25_append" -> bm25SqlOver(
      """(SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 8000000 AS doc_id, text FROM documents WHERE doc_id < 14)""".stripMargin,
      20),

    // One takedown call must zero the victim's probed residual in every
    // store, and the doc must have been indexed beforehand.
    "takedown_all_stores" ->
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows, CAST(0 AS BIGINT) AS residual_rows
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY store""".stripMargin,

    // The journaled takedown's verdict is fully determined by the
    // scripted crash point: bm25 (target 1) scrubbed before the
    // injected crash, positional/trigram only by the resume; zero
    // residual everywhere afterwards, journal recovered.
    "takedown_journal" ->
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows,
        |       CAST(1 AS BIGINT) AS scrubbed_before_resume,
        |       CAST(0 AS BIGINT) AS residual_after_resume,
        |       CAST(1 AS BIGINT) AS journal_recovered
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |ORDER BY store""".stripMargin,

    // The SQ8 describe recomputed from the corpus definition: never
    // compacted, one delta (+5 planted), one tombstone (−2 deleted).
    "sq8_store_describe" ->
      """SELECT 'base_version' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'live_deltas', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'live_tombstones', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_codes',
        |  (SELECT CAST(count(*) + 3 AS BIGINT) FROM embeddings)
        |ORDER BY metric""".stripMargin,

    // The describe surface recomputed from the survivor corpus: base
    // version 0 (never compacted), one live delta, one live tombstone,
    // and n_docs/sum_dl over (documents − {3,4}) ∪ the 5 planted docs.
    "store_describe" ->
      s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl FROM (
         |  SELECT doc_id, text FROM documents WHERE doc_id NOT IN (3, 4)
         |  UNION ALL
         |  SELECT doc_id + 8600000 AS doc_id, text FROM documents
         |  WHERE doc_id < 5))
         |SELECT 'base_version' AS metric, CAST(0 AS BIGINT) AS value
         |UNION ALL SELECT 'live_deltas', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'live_tombstones', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'n_docs', (SELECT CAST(count(*) AS BIGINT) FROM d)
         |UNION ALL SELECT 'sum_dl', (SELECT CAST(sum(dl) AS BIGINT) FROM d)
         |ORDER BY metric""".stripMargin,

    // From-scratch BM25 over the CDC survivors: doc 2 stays deleted,
    // doc 9 was deleted then revived by a later add batch, planted
    // copy 8500001 was deleted after streaming in; everything else
    // (base ∪ planted) is live with exact merged stats.
    "stream_bm25_delete" -> bm25SqlOver(
      """(SELECT doc_id, text FROM documents WHERE doc_id <> 2
        | UNION ALL
        | SELECT doc_id + 8500000 AS doc_id, text FROM documents
        | WHERE doc_id < 8 AND doc_id <> 1)""".stripMargin,
      20),

    // The masked signature ranking relationally: %3 store minus the
    // tombstoned s_id 0, min (hamming, id) within <= 3 or novel.
    "sigstore_delete" ->
      s"""WITH $hammingSigCtes,
         |st AS (SELECT vec_id AS s_id, sig FROM sigs
         |       WHERE vec_id % 3 = 0 AND vec_id <> 0),
         |m AS (SELECT st.s_id AS s_id,
         |        CAST(bit_count(xor(st.sig, q.qsig)) AS INTEGER) AS hm
         |      FROM st CROSS JOIN qs q
         |      WHERE bit_count(xor(st.sig, q.qsig)) <= 3),
         |best AS (SELECT s_id, hm FROM
         |      (SELECT s_id, hm, row_number() OVER (ORDER BY hm, s_id) AS rn
         |       FROM m) WHERE rn = 1)
         |SELECT CAST(9600000 AS BIGINT) AS vec_id,
         |       CAST(CASE WHEN (SELECT count(*) FROM best) = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       CAST((SELECT s_id FROM best) AS BIGINT) AS near_dup_of,
         |       (SELECT hm FROM best) AS hamming""".stripMargin,

    // Brute-force replay of the masked resolve: store legs = %3
    // registry minus the tombstoned 3; in-batch legs = earlier batch
    // rows; best = min (dist, mid) per probe.
    "fuzzy_store_delete" ->
      """WITH seed AS (SELECT c_custkey AS sid, c_name AS sn FROM customer
        |              WHERE c_custkey % 3 = 0 AND c_custkey <> 3),
        |b AS (SELECT c_custkey + 9500000 AS id, c_name AS n FROM customer
        |      WHERE c_custkey IN (3, 6)),
        |m AS (SELECT x.id, y.sid AS mid, levenshtein(x.n, y.sn) AS dist
        |      FROM b x JOIN seed y ON levenshtein(x.n, y.sn) <= 1
        |      UNION ALL
        |      SELECT x.id, y.id AS mid, levenshtein(x.n, y.n) AS dist
        |      FROM b x JOIN b y ON y.id < x.id AND levenshtein(x.n, y.n) <= 1),
        |best AS (SELECT id, mid, dist FROM
        |      (SELECT id, mid, dist,
        |              row_number() OVER (PARTITION BY id ORDER BY dist, mid) AS rn
        |       FROM m) WHERE rn = 1)
        |SELECT x.id AS id, (b2.mid IS NULL) AS is_new, b2.mid AS dup_of,
        |       CAST(b2.dist AS INTEGER) AS dist
        |FROM b x LEFT JOIN best b2 ON x.id = b2.id ORDER BY id""".stripMargin,

    // The shingle-store takedown life cycle relationally: probes of doc
    // 0's and doc 3's texts against the %3 store MINUS doc 0, then the
    // second re-crawl's verdict split on whether the first was novel
    // (matched nothing surviving) — if so it near-dups the re-added
    // copy at exact Jaccard 0.
    "neardup_store_delete" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corp AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE doc_id % 3 = 0 AND doc_id <> 0 AND len(toks) >= 3),
         |csz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corp GROUP BY 1),
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
         |j0 AS (SELECT s0.jd AS jd FROM s0 JOIN n0 ON s0.c_id = n0.id),
         |p3 AS (SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |       FROM t WHERE doc_id = 3 AND len(toks) >= 3),
         |p3z AS (SELECT CAST(count(*) AS BIGINT) AS b_size FROM p3),
         |s3 AS (SELECT i.c_id,
         |         1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + csz.c_size - i.n_inter AS DOUBLE) AS jd
         |       FROM (SELECT c_id, CAST(count(*) AS BIGINT) AS n_inter
         |             FROM p3 JOIN corp USING (s) GROUP BY 1) i
         |       JOIN csz USING (c_id) CROSS JOIN p3z
         |       WHERE 1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + csz.c_size - i.n_inter AS DOUBLE) <= 0.5),
         |n3 AS (SELECT min(c_id) AS id FROM s3),
         |j3 AS (SELECT s3.jd AS jd FROM s3 JOIN n3 ON s3.c_id = n3.id)
         |SELECT CAST(9300000 AS BIGINT) AS doc_id,
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       CAST((SELECT id FROM n0) AS BIGINT) AS near_dup_of,
         |       (SELECT jd FROM j0) AS jaccard_dist
         |UNION ALL
         |SELECT CAST(9300003 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST((SELECT id FROM n3) AS BIGINT), (SELECT jd FROM j3)
         |UNION ALL
         |SELECT CAST(9400000 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 9300000
         |            ELSE (SELECT id FROM n0) END AS BIGINT),
         |       CASE WHEN (SELECT id FROM n0) IS NULL THEN 0.0
         |            ELSE (SELECT jd FROM j0) END
         |ORDER BY doc_id""".stripMargin,

    // The CDC hash-store lifecycle relationally: d1/d2 = the two
    // lowest-id unique-content docs; batch 0's re-crawls dedupe to the
    // originals, batch 1's SAME-BATCH takedown + re-crawl reports
    // NOVEL (covered-leg upsert — the add wins and owns the content),
    // and batches 2/3 dedupe to that new owner across the compaction.
    "stream_dedup_delete" ->
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
         |ORDER BY doc_id""".stripMargin,

    // The CDC fuzzy-store lifecycle: every verdict is a constant — the
    // suffixed name is ed ≥ 2 from every surviving fixed-format
    // customer name and exactly 1 from the masked one, so the
    // same-batch takedown + add is NOVEL and the later re-crawls
    // resolve to it at distance 0 across the compaction.
    "stream_fuzzy_delete" ->
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
        |ORDER BY id""".stripMargin,

    // The CDC shingle-store lifecycle relationally: batch 0 probes
    // text3 against the FULL %3 store (the takedown lands later), the
    // same-batch takedown + re-crawl of text0 probes the MASKED store
    // (novel-or-not is a data fact), and the later re-crawls' verdicts
    // split on that fact — if the re-crawl was novel they near-dup its
    // re-added copy at exact Jaccard 0, else they keep matching the
    // surviving neighbor.
    "stream_neardup_delete" ->
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
         |ORDER BY doc_id""".stripMargin,

    // The takedown life cycle derived relationally: d1/d2 = the two
    // lowest-id unique-normalized-content docs; d1's re-crawl is novel
    // (its pair was tombstoned), d2's dedupes to its original owner,
    // and the second re-crawl of d1's content dedupes to the NEW owner
    // recorded by the first re-crawl.
    "dedup_store_delete" ->
      s"""WITH u AS (SELECT doc_id FROM (
         |      SELECT doc_id, count(*) OVER (PARTITION BY $NormSql) AS c
         |      FROM documents)
         |    WHERE c = 1 ORDER BY doc_id LIMIT 2),
         |d1 AS (SELECT min(doc_id) AS id FROM u),
         |d2 AS (SELECT max(doc_id) AS id FROM u)
         |SELECT CAST(9100000 + d1.id AS BIGINT) AS doc_id,
         |       CAST(1 AS BIGINT) AS is_new, CAST(NULL AS BIGINT) AS dup_of
         |FROM d1
         |UNION ALL
         |SELECT CAST(9100000 + d2.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(d2.id AS BIGINT) FROM d2
         |UNION ALL
         |SELECT CAST(9200000 + d1.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(9100000 + d1.id AS BIGINT) FROM d1
         |ORDER BY doc_id""".stripMargin,

    // From-scratch BM25 over documents minus the NET-deleted docs
    // (2 and 12 stay deleted; 7 was re-appended under a later tag and
    // must be revived with exact stats).
    "doc_bm25_delete" -> bm25SqlOver(
      "(SELECT doc_id, text FROM documents WHERE doc_id NOT IN (2, 12))", 20),

    // From-scratch phrase scan over documents minus the net-deleted
    // doc (the LOWEST-id 'hash join' doc; the second was revived).
    "doc_phrase_delete" -> phraseSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT doc_id FROM documents
         |   WHERE contains($NormSql, 'hash join')
         |   ORDER BY doc_id LIMIT 1))""".stripMargin),

    // From-scratch contains scan over documents minus the net-deleted
    // doc (the LOWEST-id 'merge batch' doc; the second was revived).
    "doc_substring_delete" -> substringSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT doc_id FROM documents
         |   WHERE contains($NormSql, 'merge batch')
         |   ORDER BY doc_id LIMIT 1))""".stripMargin),

    // From-scratch phrase scan over documents ∪ the planted stream
    // batches: the delta-aware positional probe (base + folded deltas
    // + one live delta) must reproduce it exactly.
    "stream_phrase_append" -> phraseSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 8200000 AS doc_id, text FROM
         |   (SELECT doc_id, text FROM documents
         |    WHERE contains($NormSql, 'hash join')
         |    ORDER BY doc_id LIMIT 12))""".stripMargin),

    // From-scratch contains scan over documents ∪ the planted stream
    // batches: the delta-aware trigram candidates + exact verification
    // over the union corpus must reproduce it exactly.
    "stream_substring_append" -> substringSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | UNION ALL
         | SELECT doc_id + 8300000 AS doc_id, text FROM
         |   (SELECT doc_id, text FROM documents
         |    WHERE contains($NormSql, 'merge batch')
         |    ORDER BY doc_id LIMIT 12))""".stripMargin),

    // Brute-force contains scan — deliberately NOT the index plan.
    // n_hits by the same exact length arithmetic (the diff is a
    // multiple of 11, so integer division is exact on both engines).
    "doc_substring_search" -> SubstringOracleSql,

    // Per-needle contains/replace-count replays under their query ids.
    "doc_substring_batch" -> substringBatchOracleSql(SubstringBatchQueries),
    // The one-statement SQL batch routes share the API batch oracles
    // verbatim — the equivalence proof (r15 VERDICT task 3).
    "sql_substring_batch" -> substringBatchOracleSql(SubstringBatchQueries),
    "sql_phrase_batch" -> phraseBatchOracleSql(PhraseBatchQueries),
    // The one-statement SQL path must reproduce the identical rows.
    "sql_substring_search" -> SubstringOracleSql,

    // Brute-force cross product of the two terms' positions per doc.
    "doc_proximity_search" -> ProximityOracleSql,

    // Per-pair positions-cross-product replays under their query ids.
    "doc_proximity_batch" -> proximityBatchOracleSql(ProximityBatchQueries),
    // The one-statement SQL batch route shares the oracle verbatim.
    "sql_proximity_batch" -> proximityBatchOracleSql(ProximityBatchQueries),

    // Each query's signature ranking replayed relationally over the
    // shared signature CTEs — the one-scan batch must reproduce all
    // three rankings.
    "knn_hamming_batch" -> hammingBatchOracleSql,
    // The one-statement SQL batch route shares the oracle verbatim.
    "sql_hamming_batch" -> hammingBatchOracleSql,
    // The one-statement SQL self-join path: identical rows required.
    "sql_proximity_search" -> ProximityOracleSql,

    // Brute-force token-slice scan — deliberately NOT the index plan,
    // so the hash match proves the positional intersection correct.
    "doc_phrase_search" -> PhraseOracleSql,
    // The one-statement SQL self-join path: identical rows required.
    "sql_phrase_search" -> PhraseOracleSql,

    // Hybrid RRF: the BM25 candidate stage is the shared bm25Sql
    // builder at the wider cut; cosine uses the knn_cosine_top10
    // expression verbatim; both row_numbers cast BIGINT (Spark's is
    // INT); the fused score is integer micro-units on both sides.
    "doc_hybrid_rrf" ->
      s"""WITH bm AS (SELECT * FROM (${bm25Sql(50)})),
         |bmr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS r_bm25
         |  FROM bm),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cs AS (SELECT bmr.doc_id, r_bm25,
         |    (${dotSql("e.embedding", "q.qe")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS cos_sim
         |  FROM bmr JOIN embeddings e ON e.vec_id = bmr.doc_id CROSS JOIN q),
         |cr AS (SELECT doc_id, r_bm25,
         |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS r_cos
         |  FROM cs)
         |SELECT doc_id, r_bm25, r_cos,
         |       CAST(floor(1000000.0 / (60 + r_bm25)) + floor(1000000.0 / (60 + r_cos)) AS BIGINT) AS rrf_micro
         |FROM cr ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,

    // The identical ±1 literals and left-associative fold order, baked
    // from the same Projections.sign table at SQL-generation time.
    "emb_project" -> {
      val outCols = (0 until 16).map { i =>
        val terms = (0 until EmbDim).map { j =>
          val s = if (graft.functions.Projections.sign(i, j, EmbDim) > 0) "+" else "-"
          s"$s CAST(embedding[${j + 1}] AS DOUBLE)"
        }.mkString(" ")
        f"CAST(floor(($terms) * 1e6) AS BIGINT) AS p$i%02d"
      }
      s"""SELECT vec_id, ${outCols.mkString(",\n       ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin
    },

    // The eigendecomposition is not SQL-expressible; the invariants
    // (orthonormal basis, descending spectrum, projected variance ==
    // eigenvalue, capture above the uniform k/d fraction) hold for a
    // correct PCA of this corpus, so the oracle pins the constants.
    "emb_pca_check" ->
      """SELECT CAST(64 AS BIGINT) AS dim, CAST(8 AS BIGINT) AS k,
        |       CAST(1 AS BIGINT) AS orthonormal, CAST(1 AS BIGINT) AS descending,
        |       CAST(1 AS BIGINT) AS proj_var_ok, CAST(1 AS BIGINT) AS beats_uniform""".stripMargin,

    // Batch twin of the stream-static enrichment: same join, same
    // rollup — the streaming result must equal it exactly.
    "stream_enrich" ->
      """SELECT CAST(c.c_nationkey AS INTEGER) AS c_nationkey, e.event_type,
        |       CAST(count(*) AS BIGINT) AS n_events, CAST(sum(e.event_id) AS BIGINT) AS id_sum
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "vec_get" ->
      "SELECT vec_id, label, len(embedding) AS dim FROM embeddings WHERE vec_id = 42",

    "vec_delete" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum
        |FROM embeddings WHERE vec_id <> 42""".stripMargin,

    "vec_add" ->
      """WITH added AS (SELECT vec_id FROM embeddings
        |               UNION ALL SELECT max(vec_id) + 1 FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows, max(vec_id) AS max_id FROM added""".stripMargin,

    "vec_update" ->
      """SELECT vec_id,
        |       CASE WHEN vec_id = 42 THEN CAST(1.0 AS DOUBLE)
        |            ELSE CAST(embedding[1] AS DOUBLE) END AS e0
        |FROM embeddings WHERE vec_id BETWEEN 40 AND 44 ORDER BY vec_id""".stripMargin,

    "vec_init" ->
      "SELECT CAST(64 AS BIGINT) AS dim, CAST(0 AS BIGINT) AS n_vectors",

    "vec_dims" ->
      "SELECT CAST(max(len(embedding)) AS INTEGER) AS dim FROM embeddings",

    "envelope_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings""".stripMargin,

    "doc_token_stats" ->
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(ceil(CAST(length(regexp_replace(norm, '[^\\p{L}\\p{N}]', '', 'g')) AS DOUBLE) / 4.0)
         |            + length(regexp_replace(norm, '[\\p{L}\\p{N} ]', '', 'g')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(length(norm) AS BIGINT) AS n_chars_norm,
         |       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
         |       CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS unique_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "doc_quality" ->
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
         |FROM s ORDER BY doc_id""".stripMargin,

    "doc_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM t)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_id
         |FROM s ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"SELECT doc_id, md5($NormSql) AS fp_md5 FROM documents ORDER BY doc_id",

    // Same planted suffix and patterns — interpolated from the SAME
    // constants the operator uses (TextAnalysis.EmailPattern/
    // PhonePattern, PiiSuffix), so the pair cannot drift. Java regex and
    // RE2 agree on these constructs; 'g' matches Spark's replace-all
    // default; the phone count runs on email-scrubbed text like the
    // operator.
    "doc_pii_scrub" ->
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
         |FROM e ORDER BY doc_id""".stripMargin,

    // Recomputed from the parquet original: equality proves the ORC
    // write+read preserved every row bit-for-bit (md5 of the raw text).
    "orc_roundtrip" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(text)[i]) AS BIGINT) - 1)
         |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS text_hash_xor
         |FROM documents""".stripMargin,

    "events_partitioned_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_clicks,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       CAST(sum(epoch_us(ts) % 1000000) AS BIGINT) AS ts_sum,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "csv_roundtrip" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
         |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(text)[i]) AS BIGINT) - 1)
         |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS text_hash_xor
         |FROM documents""".stripMargin,

    "xml_roundtrip" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(event_id) AS BIGINT) AS id_sum,
         |       CAST(sum(user_id) AS BIGINT) AS user_sum,
         |       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum,
         |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(event_type)[i]) AS BIGINT) - 1)
         |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS type_hash_xor
         |FROM events""".stripMargin,

    // Raw (non-distinct) n-gram lists rebuilt with list comprehensions;
    // every fraction is a single integer division, so float values match
    // bit-for-bit.
    "doc_repetition" ->
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
         |FROM g ORDER BY doc_id""".stripMargin,

    // The same distinct-5-gram construction on both sides; the corpus-
    // side df cap and the ≥2 shared-shingle floor mirror the operator.
    "decontaminate" ->
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
         |ORDER BY doc_id, bench_id""".stripMargin,

    // IDENTICAL text to the `decontaminate` oracle: the bloom form must
    // reproduce the exact answer — false positives die in the bench
    // join, false negatives cannot exist, the df cap sees true counts.
    "decontaminate_bloom" ->
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
         |ORDER BY doc_id, bench_id""".stripMargin,

    // Replays the feature-hashing embedding: the same md5 bucket as the
    // classifier oracle, the same Knuth-hash sign bit per (bucket, dim),
    // all-integer sums — the projection matrix reproduces from the data.
    "doc_embed_hash" -> {
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
    },

    // n_rows and n_hitters are exact; the guarantee flag follows the
    // sketch convention (holds whenever the MG implementation is right)
    "doc_token_hitters" ->
      s"""WITH t AS (SELECT unnest($ToksSql) AS tok FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM t),
         |h AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1)
         |SELECT n.n_rows,
         |       CAST((SELECT count(*) FROM h WHERE c > (SELECT n_rows // 31 FROM n)) AS BIGINT) AS n_hitters,
         |       CAST(1 AS BIGINT) AS all_found
         |FROM n""".stripMargin,

    // Replays both bigram LMs (raw = whole corpus, target = the %100
    // subset), LEFT-joined so OOV grams take the add-one floor, then
    // the top-100 by exact quantized log-ratio with id tie-break.
    "corpus_dsir_select" ->
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
         |ORDER BY doc_id""".stripMargin,

    "doc_gopher_filter" ->
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
         |FROM g ORDER BY doc_id""".stripMargin,

    // The C4 rules replayed in SQL: same line predicates (terminal
    // punctuation after trim, ≥3 \S+ words, no "javascript"), same
    // cleaned-text rejoin, same page verdict — the hash match covers
    // the rewritten text byte-for-byte.
    "doc_c4_filter" ->
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
        |FROM s ORDER BY doc_id""".stripMargin,

    // Plain NTILE per source over the bigram-LM score — the Spark side
    // computes the same assignment via the counting-sort decomposition
    // (no per-source global sort); matching hashes prove equivalence.
    "doc_ppl_buckets" ->
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
         |FROM b ORDER BY doc_id""".stripMargin,

    "doc_tfidf_top3" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |j AS (SELECT tf.doc_id, tf.term, tf.tf, dfr.df_t,
         |        CAST(floor((CAST(tf.tf AS DOUBLE) *
         |              (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df_t AS DOUBLE) + 1.0)) + 1.0))
         |             * 1000000.0) AS BIGINT) AS tfidf_q
         |      FROM tf JOIN dfr USING (term) CROSS JOIN nd),
         |r AS (SELECT doc_id, term, tf, df_t, tfidf_q,
         |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_q DESC, term ASC) AS INTEGER) AS rank
         |      FROM j)
         |SELECT doc_id, term, tf, df_t, tfidf_q, rank FROM r WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    "doc_exact_dups" ->
      s"""WITH g AS (SELECT md5($NormSql) AS h, count(*) AS c FROM documents GROUP BY 1)
         |SELECT CAST(sum(c) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_distinct,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups FROM g""".stripMargin,

    "doc_ngram_jaccard" ->
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
         |ORDER BY id_a, id_b""".stripMargin,

    // Same pair CTEs as doc_ngram_jaccard, then the transitive closure
    // by recursive CTE: min reachable id per node = the component label
    // the distributed min-label propagation converges to.
    "dedup_clusters" ->
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
         |FROM comp ORDER BY id""".stripMargin,

    // Replays the chunking (25-token windows of the normalized token
    // list), first-occurrence selection (min doc_id*2^20+idx per chunk
    // string), and document reassembly — md5 of the rebuilt text pins
    // every surviving byte.
    "dedup_chunks" ->
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
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Same span algebra in SQL: every 8-gram position, grams in ≥2
    // docs, per-doc interval union via the identical islands window.
    "doc_dup_spans" ->
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
         |FROM base b LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Same islands, then the indexed-lambda rewrite (DuckDB list_filter
    // indexes are 1-based — hence i-1; Spark's are 0-based).
    "doc_dup_scrub" ->
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
         |FROM k ORDER BY doc_id""".stripMargin,

    // Brute force over ALL pairs at the exact-Jaccard threshold; the
    // banded MinHash result equals it (see the query comment).
    "dedup_minhash" ->
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
         |ORDER BY id_a, id_b""".stripMargin,

    // Recomputes the md5-kind SimHash signature per document (u64 from
    // the first 16 hex chars of md5(token), ±1 vote per bit, sign pack)
    // and brute-forces hamming ≤ 3 over all pairs — the pigeonhole band
    // join returns exactly this set.
    "dedup_simhash" ->
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
         |ORDER BY id_a, id_b""".stripMargin,

    // Recomputes the winnowing fingerprint sets (Karp-Rabin k=8 hashes
    // as Σ c_j·B^(7−j) mod 2^64 via HUGEINT, signed back to Java-long
    // order, w=4 window minima by value, distinct) and the full
    // shared-fingerprint pair pipeline including the df ≤ 20 hot-key cap.
    "dedup_winnow" ->
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
         |ORDER BY id_a, id_b""".stripMargin,

    "emb_near_dups" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin,

    // Brute-force cross join at the threshold: equals the banded search
    // because exact copies collide in every band and nothing else in
    // the fixture reaches 0.95 across the two sides.
    "decontaminate_semantic" ->
      s"""WITH p AS (SELECT vec_id + 3000000 AS probe_id, embedding FROM embeddings WHERE vec_id < 15)
         |SELECT c.vec_id AS corpus_id, p.probe_id,
         |       (${dotSql("c.embedding", "p.embedding")})
         |         / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) AS cos_sim
         |FROM embeddings c CROSS JOIN p
         |WHERE (${dotSql("c.embedding", "p.embedding")})
         |        / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) >= 0.95
         |ORDER BY corpus_id, probe_id""".stripMargin,

    // Brute force over ALL pairs at the cosine threshold: equals the
    // cluster-scoped search because exact copies always share a cluster
    // and nothing else reaches 0.99 (see the query comment).
    "emb_semdedup" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id < 30)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin,

    "knn_cosine_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id,
         |       (${dotSql("e.embedding", "q.qe")})
         |         / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS cos_sim
         |FROM embeddings e CROSS JOIN q
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_ivf_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact brute force over the same planted corpus — the nprobe=1
    // probe must reproduce it because all dist-0 rows share the query's
    // cluster.
    "knn_ivf_spill_top10" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 3000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Same exact brute force as knn_ivf_pruned: the HNSW coarse
    // quantizer must route to the identical top-1 cluster.
    "knn_ivf_hnsw" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 2000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_ivf_pruned" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 2000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact brute force over corpus ∪ the ten appended copies: the
    // nprobe=1 probe of the APPENDED layout must reproduce it (all
    // eleven dist-0 rows share the probed cluster by construction).
    "knn_ivf_append" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Same brute-force shape for the STREAMING append: corpus ∪ the
    // ten delta-appended copies — the delta-aware probe must serve
    // both micro-batches' vectors (a lost batch, or a double-applied
    // retry creating duplicate ids, would hash-mismatch here).
    // The delta-aware graph probe must reproduce the exact ranking
    // over base ∪ streamed rows: 11 dist-0 rows after the append, so a
    // delta the probe missed (or a duplicate from a non-idempotent
    // redelivery) hash-mismatches immediately.
    "stream_hnsw_append" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4300000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact top-10 over (corpus ∪ planted) − the five CDC-deleted
    // copies — the global-mask mutation stream's survivor contract.
    "stream_ivf_delete" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 5100000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(15) r(i) WHERE e.vec_id = 0),
         |live AS (SELECT * FROM c WHERE vec_id NOT BETWEEN 5100000 AND 5100004),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT live.vec_id AS vec_id, ${l2SqSql("live.embedding", "q.qe")} AS dist
         |FROM live CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Survivors-only brute force after the mixed takedown (two planted
    // copies + two base ids), with the graph probe's rank column.
    "stream_hnsw_delete" ->
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
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Exact top-10 over base ∪ planted: the delta-aware ADC + rerank
    // must reproduce it (rerank-equals-exact with the planted dist-0
    // copies guaranteed inside any shortlist).
    "stream_sq8_append" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4400000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist FROM d
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "stream_ivf_append" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4200000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Corpus ∪ 15 planted copies minus the 5 deleted: after the delete
    // 11 rows sit at dist 0 (the original + 10 surviving copies), so
    // the probed-cluster top-10 IS the global top-10 the brute force
    // returns — a resurrected tombstone would hash-mismatch here.
    "knn_ivf_delete" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4100000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(15) r(i) WHERE e.vec_id = 0),
         |live AS (SELECT * FROM c WHERE vec_id NOT BETWEEN 4100000 AND 4100004),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT live.vec_id AS vec_id, ${l2SqSql("live.embedding", "q.qe")} AS dist
         |FROM live CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // IVF-PQ with exhaustive probe + re-rank also converges to exact
    // top-10 — same brute-force oracle as the flat-PQ path.
    "knn_ivfpq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // IVF-SQ8 + re-rank converges to the same exact top-10 (all
    // clusters probed at nprobe=nlist — the pruning structure is
    // exercised, the contract never depends on it; SQ8's 1000-code
    // shortlist covers with wide margin)
    "knn_ivfsq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The one-statement PQ route converges to the same exact top-10
    // (identical shortlist policy as knn_pq_rerank)
    "sql_pq_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The one-statement OPQ route converges to the same exact top-10
    // (rotation applied driver-side; identical shortlist policy)
    "sql_opq_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // PQ + re-rank converges to exact top-10, so it shares the exact
    // brute-force oracle
    "knn_pq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // OPQ + re-rank converges to the same exact top-10 (the rotation
    // only changes the shortlist's internal order, and 1000 codes cover
    // the true neighbors with margin — measured ADC recall ≥ plain PQ's
    // at every SF)
    "knn_opq_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // SQ8 + re-rank converges to exact top-10 too (4× compression
    // keeps per-dimension resolution, so a 200-code shortlist covers
    // the true neighbors with wide margin — measured ADC recall in the
    // bench record's sq8_adc_at10)
    "knn_sq8_rerank" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The one-statement SQL route over the persisted SQ8 codes: ADC
    // shortlist + exact rerank equals exact top-10 (knn_sq8_rerank's
    // contract), so it shares the brute-force oracle.
    "sql_sq8_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // The one-statement SQL route over the persisted IVF layout: same
    // planted corpus and exact brute force as knn_ivf_pruned (all
    // dist-0 rows share the query's cluster, so the nprobe=1
    // partition-pruned statement reproduces it).
    "sql_ivf_topk" ->
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 2000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Invariant summary (selection itself is not SQL-expressible): the
    // self-query is a guaranteed dist-0 candidate under every config,
    // the selector must find a ≥0.9-recall config cheaper than the
    // exact scan on this corpus (spill-2/IVF probes measure well under
    // it at every tested SF), and k rows come back.
    "knn_at_recall" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS self_found,
        |       CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS cheaper""".stripMargin,

    // Curve invariants (the curve VALUES live in the bench recall
    // dict; selection itself is not SQL-expressible): 8 points, ivf
    // monotone in nprobe with exactly 1.0 at nprobe = nlist, ivfsq
    // bounded by ivf pointwise, the selected point meets 0.9 with
    // nothing cheaper meeting it, and the self-query probes back at
    // distance 0 under the selected config.
    "knn_curve_select" ->
      """SELECT CAST(8 AS BIGINT) AS n_points, CAST(1 AS BIGINT) AS ivf_monotone,
        |       CAST(1 AS BIGINT) AS ivf_full_exact, CAST(1 AS BIGINT) AS ivfsq_le_ivf,
        |       CAST(1 AS BIGINT) AS chosen_meets, CAST(1 AS BIGINT) AS chosen_cheapest,
        |       CAST(1 AS BIGINT) AS self_found""".stripMargin,

    // Snapshot-pin invariants are provable for ANY corpus (wholly-old
    // serving across the commit, wholly-new = exact over survivors),
    // so the expected summary is constant (the knn_lsh_check device).
    "knn_ivf_pinned" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS delta_probed,
        |       CAST(1 AS BIGINT) AS pinned_serves_old,
        |       CAST(1 AS BIGINT) AS deleted_hidden,
        |       CAST(1 AS BIGINT) AS fresh_serves_new""".stripMargin,

    // Retention-knob invariants hold by the GC protocol itself, so the
    // expected summary is constant.
    "store_gc_retention" ->
      """SELECT CAST(1 AS BIGINT) AS r2_pinned_survives_two_commits,
        |       CAST(1 AS BIGINT) AS r2_collected_at_third,
        |       CAST(1 AS BIGINT) AS r2_fresh_serves_new,
        |       CAST(1 AS BIGINT) AS r1_bound_documented""".stripMargin,

    // The three-version time-travel relation is fully determined by
    // the scripted lifecycle: v0 retired = seed 1..9 + the a1 leg
    // (50), v1 retired = + the a2 leg (60), current v2 live view = +
    // the uncompacted leg (70).
    "store_time_travel" ->
      """SELECT version, CAST(store_id AS BIGINT) AS store_id FROM (
        |  SELECT 0 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50)) t0(store_id)
        |  UNION ALL
        |  SELECT 1 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60)) t1(store_id)
        |  UNION ALL
        |  SELECT 2 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60),(70)) t2(store_id)
        |) ORDER BY version, store_id""".stripMargin,

    // Snapshot-expiry invariants hold by the maintenance-op protocol
    // itself, so the expected summary is constant.
    "store_snapshot_rollback" ->
      """SELECT CAST(1 AS BIGINT) AS tag_protects_default_policy,
        |       CAST(1 AS BIGINT) AS time_travel_by_tag,
        |       CAST(1 AS BIGINT) AS rollback_restores,
        |       CAST(1 AS BIGINT) AS roll_forward,
        |       CAST(1 AS BIGINT) AS never_reuse_allocation,
        |       CAST(1 AS BIGINT) AS tag_survives_fold,
        |       CAST(1 AS BIGINT) AS drop_tag_revokes,
        |       CAST(1 AS BIGINT) AS fresh_serves_new""".stripMargin,

    "store_expire_snapshots" ->
      """SELECT CAST(1 AS BIGINT) AS retained_until_expiry,
        |       CAST(1 AS BIGINT) AS protected_prior_survives,
        |       CAST(1 AS BIGINT) AS pinned_within_retention_serves,
        |       CAST(1 AS BIGINT) AS reclaimed_on_demand,
        |       CAST(1 AS BIGINT) AS no_content_commit,
        |       CAST(1 AS BIGINT) AS fresh_serves_new,
        |       CAST(1 AS BIGINT) AS idempotent""".stripMargin,

    // Writer-lease invariants hold by the lock protocol itself, so the
    // expected summary is constant.
    "store_writer_lease" ->
      """SELECT CAST(1 AS BIGINT) AS commit_outside_lease_rejected,
        |       CAST(1 AS BIGINT) AS second_writer_rejected,
        |       CAST(1 AS BIGINT) AS expired_lease_stolen,
        |       CAST(1 AS BIGINT) AS post_steal_commit_lands,
        |       CAST(1 AS BIGINT) AS stalled_commit_fenced,
        |       CAST(1 AS BIGINT) AS stalled_release_fenced,
        |       CAST(1 AS BIGINT) AS stealer_state_survives""".stripMargin,

    // Per-query invariants of the batch path: every planted-copy query
    // must come back with a full k rows and find itself at distance 0
    // under ANY ≥0.9-recall config (the selected config probes the
    // query's own cluster first / its own hash bucket by construction).
    "knn_batch_at_recall" ->
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_rows,
        |       CAST(1 AS BIGINT) AS self_found
        |FROM embeddings ORDER BY vec_id LIMIT 12""".stripMargin,

    "knn_quantized_top10" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT vec_id, embedding,
         |        CAST(list_min(embedding) AS DOUBLE) AS mn,
         |        CASE WHEN CAST(list_max(embedding) AS DOUBLE) > CAST(list_min(embedding) AS DOUBLE)
         |             THEN (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
         |             ELSE 1.0 END AS sc
         |      FROM embeddings),
         |d AS (SELECT vec_id,
         |        list_transform(embedding,
         |          x -> mn + least(greatest(floor((CAST(x AS DOUBLE) - mn) / sc + 0.5), 0.0), 255.0) * sc) AS deq
         |      FROM p)
         |SELECT d.vec_id AS vec_id, ${l2SqSql("d.deq", "q.qe")} AS dist
         |FROM d CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "knn_hybrid" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |WHERE e.label = 3
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    // Brute force over (corpus ∪ planted label-3 copies) restricted to
    // the label — the pruned, filter-pushed probe must reproduce it.
    "knn_ivf_hybrid" ->
      s"""WITH c AS (SELECT vec_id, embedding, label FROM embeddings
         |           UNION ALL
         |           SELECT 5000000 + r.i AS vec_id, e.embedding, 3 AS label
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |WHERE c.label = 3
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,

    "events_json_filter" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 80""".stripMargin,

    "events_user_stats" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY ROLLUP (1, 2)
        |ORDER BY hour NULLS FIRST, event_type NULLS FIRST""".stripMargin,

    "events_setops" ->
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT user_id FROM c INTERSECT SELECT user_id FROM p),
        |co AS (SELECT user_id FROM c EXCEPT SELECT user_id FROM p),
        |po AS (SELECT user_id FROM p EXCEPT SELECT user_id FROM c),
        |u AS (SELECT 'both' AS segment, CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) AS id_sum FROM b
        |      UNION ALL
        |      SELECT 'click_only', CAST(count(*) AS BIGINT),
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM co
        |      UNION ALL
        |      SELECT 'purchase_only', CAST(count(*) AS BIGINT),
        |             CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM po)
        |SELECT segment, n_users, id_sum FROM u ORDER BY segment""".stripMargin,

    "doc_len_quantiles" ->
      """WITH h AS (SELECT source, n_chars AS vm, count(*) AS c FROM documents GROUP BY 1, 2),
        |cc AS (SELECT source, vm,
        |         sum(c) OVER (PARTITION BY source ORDER BY vm
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |       FROM h)
        |SELECT source,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN vm END) AS BIGINT) AS p50_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN vm END) AS BIGINT) AS p90_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN vm END) AS BIGINT) AS p99_chars
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,

    // The sketch's contract as constants: 4 targets, non-empty input,
    // zero rank-bound violations, monotone estimates.
    "events_approx_quantiles" ->
      """SELECT CAST(4 AS BIGINT) AS n_quantiles, CAST(1 AS BIGINT) AS nonempty,
        |       CAST(0 AS BIGINT) AS rank_violations, CAST(1 AS BIGINT) AS monotone""".stripMargin,

    "events_quantiles" ->
      """WITH em AS (SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm FROM events),
        |h AS (SELECT event_type, vm, count(*) AS c FROM em GROUP BY 1, 2),
        |cc AS (SELECT event_type, vm,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY vm
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY event_type) AS n
        |       FROM h)
        |SELECT event_type,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN vm END) AS BIGINT) AS p50_milli,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN vm END) AS BIGINT) AS p90_milli,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN vm END) AS BIGINT) AS p99_milli
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS base_cents,
        |       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS disc_cents,
        |       CAST(sum(CAST(floor(((l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS charge_cents,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tpch_nation_revenue" ->
      """SELECT n_name AS nation,
        |       CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |       CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND EXTRACT(year FROM o_orderdate) = 1997
        |GROUP BY 1 ORDER BY revenue_cents DESC, nation""".stripMargin,

    // BRUTE-FORCE all-pairs probe x registry — deliberately NOT the
    // blocked plan, so the hash match proves the segment blocking
    // misses no within-threshold pair on this corpus.
    "cust_fuzzy_lookup" -> FuzzyLookupOracleSql,
    // The one-statement SQL blocking path: identical rows required.
    "sql_fuzzy_lookup" -> FuzzyLookupOracleSql,

    // Brute-force pairs + the same recursive transitive closure as the
    // dedup_clusters oracle; singletons canonicalize to themselves.
    "cust_fuzzy_canon" ->
      """WITH RECURSIVE slice AS (SELECT c_custkey AS id, c_name AS n
        |                         FROM customer WHERE c_custkey % 7 = 0),
        |p AS (SELECT a.id AS id_a, b.id AS id_b FROM slice a JOIN slice b
        |      ON a.id < b.id AND levenshtein(a.n, b.n) <= 1),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
        |reach(a, b) AS (SELECT src, dst FROM edges
        |                UNION
        |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT s.id AS c_custkey, coalesce(comp.cluster_id, s.id) AS canon_id,
        |       CAST(count(*) OVER (PARTITION BY coalesce(comp.cluster_id, s.id)) AS BIGINT) AS entity_size
        |FROM slice s LEFT JOIN comp ON s.id = comp.id
        |ORDER BY c_custkey""".stripMargin,

    "cust_fuzzy_pairs" ->
      """WITH slice AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 = 0)
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM slice a CROSS JOIN slice b
        |WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,

    "tpch_top_customers" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(ord_cents) AS BIGINT) AS revenue_cents,
        |         CAST(count(*) AS BIGINT) AS n_orders
        |  FROM (SELECT l_orderkey,
        |               CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS ord_cents
        |        FROM lineitem GROUP BY 1) li
        |  JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1 ORDER BY revenue_cents DESC, o_custkey LIMIT 10)
        |SELECT c_custkey, c_name, c_mktsegment, revenue_cents, n_orders
        |FROM rev JOIN customer ON o_custkey = c_custkey
        |ORDER BY revenue_cents DESC, c_custkey""".stripMargin,

    "tpch_order_pivot" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS p_urgent,
        |       CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS p_high,
        |       CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS p_medium,
        |       CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p_notspec,
        |       CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS p_low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "tpch_order_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE (1, 2)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "tpch_brand_top3" ->
      """SELECT p_brand, CAST(rk AS INTEGER) AS rk, p_partkey,
        |       CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |                  ORDER BY p_retailprice DESC, p_partkey) AS rk
        |      FROM part)
        |WHERE rk <= 3 ORDER BY p_brand, rk""".stripMargin,

    "tpch_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              OVER w AS BIGINT) AS cum_cents,
        |       CAST(count(*) OVER w AS BIGINT) AS cum_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "tpch_urgent_split" ->
      """WITH u AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT c_mktsegment,
        |       CAST(count(u.o_custkey) AS BIGINT) AS n_with_urgent,
        |       CAST(count(*) - count(u.o_custkey) AS BIGINT) AS n_without_urgent
        |FROM customer c LEFT JOIN u ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The bucketed layout is an execution detail: the oracle is the
    // plain join+agg with the shared integer-cents quantization.
    "tpch_colocated_rev" ->
      """WITH r AS (SELECT l_orderkey,
        |             CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
        |             CAST(count(*) AS BIGINT) AS n_items
        |           FROM lineitem GROUP BY 1)
        |SELECT o_orderkey AS orderkey, o_custkey AS custkey,
        |       o_orderstatus AS orderstatus, rev_cents, n_items
        |FROM r JOIN orders ON l_orderkey = o_orderkey
        |WHERE rev_cents >= 45000000
        |ORDER BY orderkey""".stripMargin,

    "events_funnel" ->
      """WITH u AS (SELECT user_id,
        |             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |           FROM events GROUP BY 1)
        |SELECT CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_step1_view,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                      AND t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_step2_click,
        |       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
        |                      AND t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_step3_purchase
        |FROM u""".stripMargin,

    "events_value_hist" ->
      """WITH b AS (SELECT least(greatest(CAST(floor((value - 0.0) / 50.0) AS BIGINT), 0), 19) AS bin FROM events)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n, 0.0 + bin * 50.0 AS bin_start
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // Z-order layout stats: identical bucket arithmetic, the same
    // unrolled Morton bit-interleave, the same counting-sort block
    // assignment over the cell table, micro-quantized span averages.
    "events_zorder_stats" -> ZOrderOracleSql,

    // The layout changes WHERE rows live, never WHAT they are: the
    // box aggregate equals the same predicate over the raw table.
    "events_zorder_pruned" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(event_id), 0) AS BIGINT) AS id_sum,
        |       CAST(coalesce(sum(CAST(floor(value * 1000) AS BIGINT)), 0) AS BIGINT) AS value_milli
        |FROM events
        |WHERE user_id >= 2 AND user_id <= 9 AND value >= 20.0 AND value <= 250.0""".stripMargin,

    // stream-stream interval join ≡ the batch interval join
    "stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       epoch_us(c.ts) AS click_us, epoch_us(p.ts) AS purchase_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,

    // streaming sessionization: gap-split in the ms domain
    // (Timestamp.getTime floors micros→ms); a user's non-last sessions
    // emit intra-batch, the last session emits only if the event-time
    // timeout fired, i.e. end+gap strictly below the final watermark
    "stream_sessions" ->
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
        |ORDER BY g.user_id, start_us""".stripMargin,

    "events_asof" ->
      """WITH clicks AS (SELECT user_id, ts AS cts, event_id FROM events WHERE event_type = 'click'),
        |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
        |SELECT c.user_id, epoch_us(c.cts) AS click_us, c.event_id, epoch_us(s.sts) AS signup_us
        |FROM clicks c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.cts >= s.sts
        |ORDER BY c.user_id, click_us, event_id""".stripMargin,

    // the round trip must preserve every id and every float32 exactly
    "emb_jsonl_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |       CAST(sum(len(embedding)) AS BIGINT) AS dims_total,
        |       CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS first_dim_micro
        |FROM embeddings""".stripMargin,

    // the salted plan must reproduce the plain inner join row for row
    "events_salted_join" ->
      """WITH d AS (SELECT DISTINCT user_id, user_id % 7 AS cohort FROM events)
        |SELECT e.user_id, e.event_id, e.event_type, d.cohort
        |FROM events e JOIN d USING (user_id)
        |ORDER BY e.user_id, e.event_id, e.event_type""".stripMargin,

    // accuracy bounds hold by construction; the oracle pins the booleans
    "events_sketch_check" ->
      """SELECT CAST(1 AS BIGINT) AS hll_ok, CAST(1 AS BIGINT) AS quantile_ok""",

    // n_days and exact_d are exact (oracle-computable); the merged-HLL
    // estimate flag follows the events_sketch_check convention
    "events_sketch_merge" ->
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_d,
        |       CAST(1 AS BIGINT) AS merge_ok
        |FROM events""".stripMargin,

    // n_keys is the exact distinct count; under/over/merge are the CMS
    // structural guarantees (never-undercount, εn ceiling, exact linear
    // merge), deterministic for the seeded hash grid.
    "events_cms_check" ->
      """SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_keys,
        |       CAST(0 AS BIGINT) AS underest, CAST(0 AS BIGINT) AS over_bound,
        |       CAST(1 AS BIGINT) AS merge_exact
        |FROM events""".stripMargin,

    // brute-force theta join; the binned equi-join must reproduce it
    "events_range_join" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |i AS (SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts FROM events WHERE event_type = 'signup')
        |SELECT p.user_id, epoch_us(p.ts) AS click_us, p.event_id, epoch_us(i.start_ts) AS signup_us
        |FROM p JOIN i ON p.user_id = i.user_id AND p.ts >= i.start_ts AND p.ts < i.end_ts
        |ORDER BY p.user_id, click_us, event_id, signup_us""".stripMargin,

    // Replays the store (first-owner per content hash) and the planted
    // batch; the suffixed branch re-derives the normalized hash of the
    // modified text exactly as the Spark side's concat.
    "dedup_incremental" ->
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
         |ORDER BY doc_id""".stripMargin,

    // Incremental near-dup: the oracle rebuilds the shingle postings
    // from the corpus, derives the identical planted batch, and takes
    // exact set Jaccard over shared shingles (md5-key equality on the
    // Spark side ≡ shingle equality here), min-corpus-id verdict.
    "dedup_incremental_near" ->
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
         |ORDER BY doc_id""".stripMargin,

    // Store-backed streaming incremental dedup: the oracle rebuilds
    // the %3==0 seed store, then replays the single-file micro-batch's
    // verdicts — store hit → dup_of = store first owner; within-batch
    // duplicate → min batch id; novel first occurrence → is_new.
    // BRUTE-FORCE replay of the two-micro-batch resolve: batch 0
    // matches seed ∪ earlier-in-batch; batch 1 additionally matches
    // batch 0's NOVEL names (the only rows whose postings were
    // appended). Best match = (distance, id) ascending.
    "stream_fuzzy_resolve" ->
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
        |FROM v ORDER BY c_custkey""".stripMargin,

    "stream_incremental" ->
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
         |FROM r LEFT JOIN st USING (h) ORDER BY doc_id""".stripMargin,

    // Streaming incremental NEAR-dup: the oracle rebuilds the %3==0
    // seed shingle store, then replays the single-file micro-batch's
    // exact-Jaccard verdicts (store is as-of batch start; the appends
    // only matter to a NEXT batch, which this bounded replay has none
    // of — cross-batch durability is spec-pinned by the two-run
    // MemoryStream test instead).
    "stream_incremental_near" ->
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
         |ORDER BY d.doc_id""".stripMargin,

    "doc_dedup_keep" ->
      s"""WITH k AS (SELECT doc_id, text,
         |             row_number() OVER (PARTITION BY md5($NormSql) ORDER BY doc_id ASC) AS rn
         |           FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(length(text)) AS BIGINT) AS chars_kept
         |FROM k WHERE rn = 1""".stripMargin,

    // The whole curation chain re-derived in SQL: the lang/quality gate
    // expressions are verbatim the doc_lang_id / doc_quality oracles
    // (both hash-matched, so the float comparisons agree bit-for-bit),
    // exact dedup is the doc_dedup_keep row_number device, and the
    // near-dup keep-set is the dedup_clusters recursive closure over the
    // gated survivors, keeping each component's minimum id.
    "corpus_curate" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |ling AS (SELECT doc_id, text, norm, toks,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
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
         |ORDER BY doc_id""".stripMargin,

    // Recomputes the 32-bit md5 deviate (first 8 hex chars, digit-parsed
    // — same device as the simhash signature oracle) and the lang-id
    // CASE, then applies the per-stratum per-myriad thresholds.
    "doc_sample_stratified" ->
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM t),
         |l AS (SELECT doc_id,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_id
         |  FROM s),
         |h AS (SELECT doc_id, lang_id,
         |  list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 's1')[i]) AS BIGINT) - 1)
         |            * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |  FROM l)
         |SELECT doc_id, lang_id FROM h
         |WHERE bucket < (CASE WHEN lang_id = 'en' THEN 2000 ELSE 10000 END)
         |ORDER BY doc_id""".stripMargin,

    // Same integer threshold derivation from the source histogram, same
    // md5 deviate. floor() operands stay far below 2^53, so the double
    // floors are exact integer arithmetic in both engines.
    "corpus_mixture" ->
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
         |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin,

    // Rebuilds the bigram LM from scratch: unigram/bigram counts over
    // the same token stream, identical smoothing arithmetic, identical
    // per-term ln micro-quantization.
    "doc_lm_score" ->
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
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // RETRAINS the interpolated Kneser-Ney model in SQL: the four model
    // aggregates (bigram counts, context totals c(w1.) with
    // continuation fan-out N1+(w1.), backward types N1+(.w2), and the
    // (N1+(..) + V) continuation floor) over the lang='en' slice, then
    // the SAME float64 expression tree per scored gram — D = 0.75
    // literal, identical division/multiplication shape — quantized to
    // micro-nats before the per-doc integer sums.
    "doc_kn_score" ->
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
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // The doc_kn_score model CTEs with the occurrence side keyed by
    // (doc, window): windows rebuilt with the same stride/len
    // arithmetic, grams from the window slices, same expression tree.
    "doc_kn_spans" ->
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
         |ORDER BY doc_id, win_idx""".stripMargin,

    // The span machinery at stride = window = 32 plus the keep rule
    // (exact BIGINT cross-multiplication) and the ordered-window
    // reassembly; spans MATERIALIZED so the model CTEs evaluate once.
    "doc_kn_scrub" ->
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
         |FROM documents d LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin,

    // RETRAINS the trigram KN model in SQL — six aggregates (raw
    // trigram counts + (w1w2) context totals, the three type-count
    // tables off the DISTINCT trigram set, the bigram continuation
    // bottom) and the same nested CASE cascade, D = 0.75 literal,
    // identical division/multiplication shape at every level.
    "doc_kn3_score" -> {
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
    },

    // RETRAINS the classifier in SQL: per-token md5 bucket (mod 2^20),
    // per-bucket pos/neg occurrence counts under the lang='en' label,
    // the same add-one-smoothed ln-quantized NB log-odds weights, and
    // the same per-doc score sums — weight table and verdicts must both
    // reproduce from the data for the hash to match.
    // REPLAYS the whole GD run in SQL: data-derived vocab, feature
    // table, 24 unrolled weight layers (integer gradient sums,
    // truncating-division updates), then unpivots the final weights.
    "corpus_lr_train" -> {
      val wsel = (1 to 16).map { j =>
        f"SELECT fidx AS feat_idx, tok AS token, w$j%02d AS weight_micro FROM vocab, w24 WHERE fidx = $j"
      }.mkString("\n|UNION ALL ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT CAST(0 AS INT) AS feat_idx, '<bias>' AS token, w00 AS weight_micro FROM w24
         |UNION ALL $wsel
         |ORDER BY feat_idx""".stripMargin
    },

    // The same chain, scored and cut to the top-100 with the (score
    // DESC, id) tie-break.
    "corpus_lr_select" -> {
      val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT doc_id,
         |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro
         |FROM (SELECT f.doc_id, $zSum AS z FROM f CROSS JOIN w24) q
         |ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin
    },

    // The streamed union of batch sinks covers every doc exactly once
    // (scoring is stateless per batch), so the oracle is the same
    // chain scored over the whole corpus.
    "stream_lr_score" -> {
      val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT doc_id,
         |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro,
         |       (z > 0.0) AS pred
         |FROM (SELECT f.doc_id, $zSum AS z FROM f CROSS JOIN w24) q
         |ORDER BY doc_id""".stripMargin
    },

    // The same chain, final layer applied back over the feature table.
    "doc_lr_score" -> {
      val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT doc_id,
         |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro,
         |       (z > 0.0) AS pred, (y = 1.0) AS label,
         |       ((z > 0.0) = (y = 1.0)) AS correct
         |FROM (SELECT f.doc_id, f.y, $zSum AS z FROM f CROSS JOIN w24) q
         |ORDER BY doc_id""".stripMargin
    },

    "doc_classifier_score" ->
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
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Recomputes the 32-bit deviate (digit-parse twin), u = (dev+0.5)/2^32,
    // key = floor(1e6 * (ln(u)/w)) — identical op order — then the
    // top-200 cut with the id tie-break.
    "corpus_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_toks FROM documents),
         |k AS (SELECT doc_id, n_toks,
         |  CAST(floor(1000000.0 * (ln(
         |    (CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 'ws')[i]) AS BIGINT) - 1)
         |                    * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS DOUBLE) + 0.5)
         |    / 4294967296.0) / CAST(n_toks AS DOUBLE))) AS BIGINT) AS es_key
         |  FROM t)
         |SELECT doc_id, n_toks, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin,

    "corpus_shuffle" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'sh') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,

    // Replays the integer epoch plan (feasible total → per-category
    // base epochs + extra-epoch threshold, all // arithmetic) and
    // expands each doc with unnest(range(epochs)).
    "corpus_epochs" ->
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
         |WHERE epochs > 0 ORDER BY doc_id, epoch""".stripMargin,

    // Quality re-derived per row (verbatim the doc_quality oracle) and
    // ln-quantized BEFORE summing, so the aggregate is an integer sum —
    // order-free, hash-stable.
    "corpus_report" ->
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
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The dedup_clusters closure, left-joined onto the corpus (cluster
    // id for members, own id otherwise), then the same md5 deviate
    // bucketed into cumulative split cuts (8000/9000/10000).
    "corpus_split" ->
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
         |FROM h ORDER BY doc_id""".stripMargin,

    // Replays the two-level packing exactly: the same md5 deviate mod 8
    // assigns parts, and a per-part recursive recurrence walks docs in
    // id order carrying (bin_idx, fill) — the greedy rule verbatim.
    "seq_pack" ->
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
         |SELECT doc_id, part, bin_idx FROM pack ORDER BY doc_id""".stripMargin,

    // Replays the seq_pack recurrence, then the ordered concatenation:
    // md5 of string_agg(text, '\n' ORDER BY doc_id) per (part, bin)
    // must equal Spark's array_sort-struct reassembly byte-for-byte.
    "seq_pack_text" ->
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The window form IS the spec; Spark executes the rewritten
    // bounded-aggregate plan and must reproduce it exactly.
    // (row_number: INT in Spark, BIGINT in DuckDB — cast.)
    "corpus_source_cap" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 40
        |ORDER BY source, rk""".stripMargin,

    // Replays the quality expression (same op order as doc_quality),
    // then the per-source best-first running token total; a row
    // survives iff the budget was not exhausted BEFORE it.
    "corpus_token_budget" ->
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
         |WHERE cum_tokens - n_tokens < 600 ORDER BY doc_id""".stripMargin,

    // DuckDB date subtraction yields days directly; the distinct
    // (user, day) activity set mirrors the Spark pass.
    "events_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |       CAST(a.day - f.cohort AS INTEGER) AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The same lag-flag-cumsum recurrence; row_number ties broken by
    // event_id on both sides, so session numbering matches exactly.
    "events_sessions" ->
      """WITH l AS (SELECT user_id, ts, event_id,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s, event_id
        |      FROM l),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical expected output — the salted plan changes shape, not rows
    "events_asof_salted" ->
      """WITH clicks AS (SELECT user_id, ts AS cts, event_id FROM events WHERE event_type = 'click'),
        |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
        |SELECT c.user_id, epoch_us(c.cts) AS click_us, c.event_id, epoch_us(s.sts) AS signup_us
        |FROM clicks c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.cts >= s.sts
        |ORDER BY c.user_id, click_us, event_id""".stripMargin,

    "events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Independent sliding-window arithmetic: with a 1 h window on a
    // 30 min slide, each event belongs to EXACTLY the two grid-aligned
    // starts floor_30m(ts) and floor_30m(ts) − 30 min — Spark's
    // window() generation must reproduce this grid.
    "events_sliding" ->
      """WITH w AS (
        |  SELECT event_type,
        |         to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - i * 1800) AS win_start
        |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) g)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the streaming dedup's hash set must equal the batch DISTINCT
    "stream_dedup" ->
      s"""SELECT DISTINCT md5($NormSql) AS content_hash FROM documents
         |ORDER BY content_hash""".stripMargin,

    // batch replay of the streaming gates + dedup: lang/quality gate
    // fragments verbatim from the corpus_curate oracle, then DISTINCT
    "stream_curate" ->
      s"""WITH base AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |ling AS (SELECT doc_id, norm, toks,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
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
         |ORDER BY content_hash""".stripMargin,

    // the window-rank form the rewrite must reproduce bit-for-bit
    "events_top3_hourly" ->
      """WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, user_id,
        |                  CAST(count(*) AS BIGINT) AS n_events
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT hour, user_id, n_events,
        |             CAST(row_number() OVER (PARTITION BY hour ORDER BY n_events DESC, user_id ASC) AS INTEGER) AS rank
        |      FROM c)
        |SELECT hour, user_id, n_events, rank FROM r WHERE rank <= 3
        |ORDER BY hour, rank""".stripMargin,

    // the streaming replay must converge to exactly the batch aggregation
    "stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
