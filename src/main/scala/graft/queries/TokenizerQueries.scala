package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Tokenizers: BPE (char-level, batched, byte-level, GPT-2 and HF
  * tokenizer.json models), Unigram, WordPiece, detokenization, and the
  * token-id sequence shapers (windows, packing, FIM, SFT masks). */
object TokenizerQueries {
  private val declare = new Declared.Family("tokenizer")

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

  val declared: Seq[Declared] = Seq(
    // BPE merge training: one corpus pass builds the distinct-word
    // table; each round is vocab-bounded (pair explode + weighted
    // count + 1-row argmax) with the greedy merge applied as a narrow
    // fold — the Sennrich/fastBPE word-count trick as Spark plans.
    declare("corpus_bpe_merges")((s, dir) => {
      graft.text.Bpe.learnMerges(docs(s, dir), numMerges = 6)
    })(
      // BPE: the oracle replays the identical rounds — weighted pair
      // counts over the distinct-word table, (n desc, a, b) argmax, and
      // the SAME greedy left-fold application via list_reduce (string
      // replace would mis-merge self-pair runs like 'a a a a').
      BpeOracleSql),

    // BPE inference over the corpus with the merges just learned:
    // train (bounded driver artifact) → apply every rule in rank order
    // per word (narrow fold, no shuffle) — the md5 of each doc's
    // subword sequence byte-checks the full train→tokenize path.
    declare("doc_bpe_tokenize")((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.learnMerges(d, numMerges = 6).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.applyMerges(d, merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    })(
      // Train→apply: same rounds with the word key carried through, then
      // positional re-tokenization of every document; md5 byte-check.
      BpeTokenizeOracleSql),

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
    declare("corpus_bpe_merges_batch")((s, dir) => {
      val artDir = artifactDir("bpe", dir)
      graft.text.Bpe.ensureMergeArtifact(s, docs(s, dir), artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.mergesFromArtifact(s, artDir)
    })(bpeBatchOracleSql(rounds = 8, batchSize = 16, candCap = 256)),

    // The trained VOCABULARY (GPT-2's vocab.json next to merges.txt):
    // subword symbols with weighted occurrence counts after all ~90
    // rules — rules via the shared artifact; one corpus pass + 8
    // vocab-bounded folds regardless of rule count. The oracle replays
    // the full batched construction and aggregates the final symbols.
    declare("corpus_bpe_vocab")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("bpe", dir)
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.vocabAfterRounds(d,
        graft.text.Bpe.loadMergeRounds(s, artDir), topK = 50)
    })(bpeBatchVocabOracleSql(rounds = 8, batchSize = 16, candCap = 256, topK = 50)),

    // BPE inference at the full ~90-rule vocabulary: rules from the
    // shared merge artifact, each round's disjoint rule set applied as
    // ONE combined fold over the word cache — 8 materialized vocab
    // steps for ~90 rules (vs one per rule), the rule-count-scalable
    // apply.
    declare("doc_bpe_tokenize_batch")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("bpe", dir)
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      val rounds = graft.text.Bpe.loadMergeRounds(s, artDir)
      graft.text.Bpe.applyMergesGrouped(d, rounds)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    })(bpeBatchTokenizeOracleSql(rounds = 8, batchSize = 16, candCap = 256)),

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
    declare("doc_bpe_tokenize_ext")((s, dir) => {
      graft.text.Bpe.applyMergesRanked(docs(s, dir),
          graft.text.Bpe.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    })(bpeExtTokenizeOracleSql(maxIters = 16)),

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
    declare("corpus_unigram_vocab")((s, dir) => {
      val artDir = artifactDir("unigram", dir)
      graft.text.Unigram.ensureVocabArtifact(s, docs(s, dir), artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      graft.text.Unigram.vocabFromArtifact(s, artDir)
    })(unigramVocabOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // Unigram INFERENCE end-to-end: train (as above, via the shared
    // vocab artifact), then Viterbi-segment every document through the
    // word cache under the final piece costs, positional rejoin — the
    // complete SentencePiece-style pipeline, oracle-replayed train AND
    // apply.
    declare("doc_unigram_tokenize")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("unigram", dir)
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenize(d, vocab)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_pieces"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    })(unigramTokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // Unigram TOKEN IDS — SentencePiece id conventions (<unk>=0,
    // <s>=1, </s>=2, trained pieces 3+rank by score order), the
    // unigram twin of doc_bpe_token_ids: Viterbi AND the hashed
    // piece->id probe (VocabIdsExpr — O(1) at any vocab size) both run
    // inside the word cache, OOV fallback chars coalesce to <unk>, and
    // each document terminates with </s>. The oracle assigns ids by
    // row_number over the replayed final vocabulary and maps the
    // segmented pieces through a LEFT JOIN + coalesce(0).
    declare("doc_unigram_ids")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("unigram", dir)
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenIds(d, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    })(unigramIdsOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

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
    declare("doc_unigram_byte_fallback")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("unigram", dir)
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
    })(unigramByteFallbackOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    declare("stream_tokenize_ids")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("unigram_spcov", dir)
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150,
        marker = true, coveragePermyriad = 9800)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val scratch = scratchDir("streamtok", dir)
      val stream = replayStream(s, scratch, Seq(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1)))
      val q = graft.streaming.StreamingIngest.streamingTokenizeIds(
        stream, vocab, s"$scratch/sink", s"$scratch/chk")
      awaitStream("stream_tokenize_ids", q)
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      s.read.option("recursiveFileLookup", "true").parquet(s"$scratch/sink")
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    })(
      // streaming over a PARTITION of the corpus == the batch run —
      // statelessness replayed as plain batch semantics
      unigramStreamTokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800)),

    // CHARACTER COVERAGE (SentencePiece --character_coverage, here an
    // integer permyriad): train at 98% character mass — the rare tail
    // of the corpus alphabet is excluded from the seed and KEPT out
    // through the EM rounds (UNK emissions do not re-enter; multi-char
    // pieces cannot smuggle an excluded char back in) — then
    // byte-fallback-tokenize the SAME corpus: the excluded in-corpus
    // tail now byte-falls-back, which is the point of the knob (vocab
    // slots go to useful pieces; coverage of the text stays total).
    declare("doc_unigram_coverage")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("unigram_cov", dir)
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
    })(unigramCoverageOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800)),

    // TOKEN WINDOWS — the chunking step between tokenization and the
    // model (training context windows, RAG passage chunks): each
    // document's GPT-2-path ids cut into 64-token windows at stride
    // 48 (16-token overlap), the tail window kept short — one NARROW
    // map per document (sequence + slice inside a single projection,
    // no shuffle, no per-window join), the shape that holds when the
    // corpus is 100 TB of token arrays. The oracle replays the same
    // slicing arithmetic over the replayed ids.
    declare("doc_token_windows")((s, dir) => {
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
    })(tokenWindowsOracleSql(maxIters = 36, window = 64, stride = 48)),

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
    declare("doc_unigram_ext_model")((s, dir) => {
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
    })(unigramExtModelOracleSql(maxPieceLen = 4)),

    // The unigram ROUND-TRIP under the oracle hash gate — the full
    // production SentencePiece shape: ▁-marked training (the
    // add_dummy_prefix/whitespace-escape convention shipped models
    // use) + byte fallback, applied to the extended corpus, DECODED
    // back in one codegen kernel (pieces/bytes assemble, control ids
    // drop, markers become spaces) and compared against the
    // pretokenizer's own normalization of the original text —
    // `lossless` is the observable; exotic byte-fallback chars
    // included. A regression in EITHER direction of the ▁ pipeline is
    // a hash mismatch here.
    declare("doc_unigram_detokenize")((s, dir) => {
      val x = extDocs(s, dir)
      val artDir = artifactDir("unigram_sp", dir)
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
    })(unigramDetokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // WORDPIECE training (the BERT family — Schuster & Nakajima 2012,
    // Wu et al. 2016; the THIRD production tokenizer family next to
    // BPE and unigram): iterative best-pair merges over the
    // distinct-word table, scored by LIKELIHOOD GAIN
    // n(a,b)/(n(a)·n(b)) rather than raw frequency, `##` continuation
    // markers. One merge per round (the published trainer's shape —
    // the score changes after every merge). Reads through the
    // persisted merge artifact; the oracle replays every round's
    // pair/single counts and the float64 argmax exactly.
    declare("corpus_wordpiece_merges")((s, dir) => {
      val artDir = artifactDir("wordpiece", dir)
      graft.text.WordPiece.ensureMergeArtifact(s, docs(s, dir), artDir,
        numMerges = 8)
      graft.text.WordPiece.mergesFromArtifact(s, artDir)
    })(wpMergesOracleSql(numMerges = 8)),

    // WORDPIECE inference — NOT merge replay: the released
    // WordpieceTokenizer greedily takes the LONGEST vocabulary piece
    // at each position (##-prefixed at continuation positions); a
    // position matching nothing turns the whole word into [UNK] (the
    // is_bad semantics). Train on `documents`, apply to the EXTENDED
    // corpus — whose digits/accents/CJK/emoji are outside the trained
    // alphabet, exactly where [UNK] fires. One codegen kernel per
    // DISTINCT word (WordPieceExpr), positional rejoin.
    declare("doc_wordpiece_tokenize")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("wordpiece", dir)
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
    })(wpTokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // WORDPIECE TOKEN IDS under the BERT vocab.txt conventions:
    // specials [PAD]=0 [UNK]=1 [CLS]=2 [SEP]=3 [MASK]=4, the alphabet
    // from 5, merge outputs in rank order (first id wins on
    // duplicates); every document framed [CLS] … [SEP]. Greedy
    // segmentation AND the hashed O(1) piece->id probe both run inside
    // the word cache.
    declare("doc_wordpiece_ids")((s, dir) => {
      val d = docs(s, dir)
      val artDir = artifactDir("wordpiece", dir)
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
    })(wpIdsOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // WORDPIECE DECODE — ids back to text as one codegen kernel
    // (WordPieceDecodeExpr): control ids ([PAD]/[CLS]/[SEP]/[MASK])
    // drop, ## pieces glue to the previous word, everything else
    // ([UNK] included) opens a space-separated word. `lossless`
    // compares against the normalized source, so the round-trip sits
    // under the oracle hash gate — [UNK]-carrying rows are honestly
    // false, everything the vocabulary covers comes back exactly.
    declare("doc_wordpiece_detokenize")((s, dir) => {
      val d = docs(s, dir)
      val x = extDocs(s, dir)
      val artDir = artifactDir("wordpiece", dir)
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
    })(wpDetokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // BRING-YOUR-OWN WordPiece: a released vocab.txt is the COMPLETE
    // inference artifact (greedy longest-match needs only the
    // vocabulary — no merges file exists at inference time). The
    // shipped fixture uses the bert-base layout: [PAD]=0, an
    // [unusedN] block, [UNK]/[CLS]/[SEP]/[MASK] at 11–14 — ids that
    // deliberately DIFFER from this engine's training constants, so a
    // green hash proves the id plumbing is file-driven. Pure
    // inference: no training pass, one kernel per distinct word.
    declare("doc_wordpiece_ext_vocab")((s, dir) => {
      val vocab = graft.text.WordPiece.externalFixtureVocab()
      val unkId = vocab.collectFirst { case ("[UNK]", i) => i }.get
      graft.text.WordPiece.tokenIdsExternal(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), x => x === lit(unkId)))
            .cast("long").as("n_unk"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    })(wpExtVocabOracleSql(unroll = 40)),

    // BYTE-LEVEL BPE training (the GPT-2 construction): raw-text
    // pretokens → UTF-8 bytes → the published bytes_to_unicode
    // alphabet → the shared batched trainer. Runs on the corpus
    // EXTENDED with punctuation/non-ASCII/emoji fixture rows — text
    // the char-level path cannot even represent. The oracle rebuilds
    // the byte symbolization from code-point arithmetic (UTF-8
    // encoding stated in SQL) + the inlined 256-row byte map, then
    // replays the identical training rounds.
    declare("corpus_bpe_bytelevel")((s, dir) =>
      graft.text.ByteLevel.learnMergesBatched(extDocs(s, dir),
        rounds = 4, batchSize = 8, candCap = 128))(bpeByteLevelOracleSql(rounds = 4, batchSize = 8, candCap = 128)),

    // The byte-fallback property MEASURED: of the extended corpus's
    // distinct non-whitespace characters, every one decomposes into
    // the 256-symbol byte-level base alphabet (computed per char, not
    // assumed), while the char-level token alphabet covers only the
    // lowercased survivors — uppercase, punctuation, CJK, emoji drop.
    declare("doc_bytelevel_coverage")((s, dir) =>
      graft.text.ByteLevel.coverageReport(extDocs(s, dir)))(byteLevelCoverageOracleSql),

    // The GPT-2 PRODUCTION inference path end-to-end: raw-text
    // pretokens → byte symbolization → the priority loop over an
    // external rank-ordered BYTE-LEVEL merge list (the shipped
    // 1.1k-rule fixture with Ġ-space merges) — byte-level × ranked,
    // the combination every deployed tokenizer runs. One codegen
    // kernel pass per distinct pretoken; the oracle unrolls the loop
    // over the byte-level word table.
    declare("doc_bpe_tokenize_gpt2")((s, dir) => {
      graft.text.ByteLevel.applyMergesRanked(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    })(
      // 36 unrolled layers >= the derived per-run bound at any SF (the
      // longest extended-corpus pretoken is 35 bytes; surplus layers are
      // no-ops on converged words) — asserted by BpeExtSpec
      bpeGpt2TokenizeOracleSql(maxIters = 36)),

    // TOKEN IDS — the tensor a model consumes: the GPT-2-path subwords
    // mapped through the vocab id table the fixture list induces (base
    // bytes 0–255 by byte value, merge outputs 256+rank, first rank
    // wins on duplicate outputs). One HASHED reference-object probe
    // per subword (VocabIdsExpr) — O(1) at any vocabulary size, where
    // the earlier typedLit map literal cost a linear scan per lookup.
    declare("doc_bpe_token_ids")((s, dir) => {
      graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    })(bpeTokenIdsOracleSql(maxIters = 36)),

    // Tokenizer FERTILITY report — the per-language efficiency metric
    // a tokenizer owner tracks before committing a vocab (subwords per
    // whitespace word = fertility; normalized chars per subword =
    // compression): the GPT-2-path token ids and the lang-ID kernel
    // fuse in one corpus pass, then a lang-keyed integer aggregate.
    // Ratios are micro-quantized BIGINT floor divisions (both engines
    // positive-truncate identically), so the report is hash-exact.
    // At 100 TB: one tokenize pass + a ≤6-group aggregate.
    declare("corpus_fertility")((s, dir) => {
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
    })(
      // Fertility report: the gpt2 id machinery + the lang-id CASE twin
      // (sql_lang_quality's device), grouped per language with
      // micro-quantized floor-division ratios.
      s"""${gpt2IdsCtes(36)},
         |f AS (SELECT e.doc_id, $NormSql AS norm,
         |             CAST(len(i.tids) AS BIGINT) AS n_sub
         |      FROM ext e JOIN ids i USING (doc_id)),
         |g AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks, n_sub FROM f),
         |sc AS (SELECT doc_id, n_sub,
         |  CAST(length(norm) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  $LangScoresSql
         |  FROM g),
         |l AS (SELECT doc_id, n_chars, n_words, n_sub,
         |  $LangCaseSql AS lang
         |  FROM sc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS sum_words,
         |       CAST(sum(n_sub) AS BIGINT) AS sum_subwords,
         |       CAST((sum(n_sub) * 1000000) // greatest(sum(n_words), 1) AS BIGINT) AS fertility_micro,
         |       CAST((sum(n_chars) * 1000000) // greatest(sum(n_sub), 1) AS BIGINT) AS cps_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin),

    // BRING-YOUR-OWN tokenizer.json — the HuggingFace single-file
    // serialization, the third external-tokenizer format this engine
    // loads (after merges.txt and the SentencePiece .model proto):
    // model.vocab is the AUTHORITATIVE id map (never re-derived from
    // rank conventions), model.merges feed the ranked kernel, the
    // ByteLevel pre_tokenizer block is validated (any other pipeline
    // rejects loudly), and <|endoftext|> appends per document at the
    // file's added-token id. Same plan shape as doc_bpe_token_ids —
    // one kernel pass per distinct pretoken, hashed O(1) id probe.
    declare("doc_hf_tokenizer_json")((s, dir) => {
      val m = graft.text.HfTokenizer.externalFixture()
      graft.text.HfTokenizer.tokenIds(extDocs(s, dir), m)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    })(hfTokenizerOracleSql(maxIters = 36)),

    // DECODE as a declared query — the round-trip under the oracle
    // hash gate: tokenIds' output decoded back through the reverse
    // vocab + inverse byte alphabet in ONE codegen kernel, compared
    // against the ORIGINAL raw text (`lossless`). A regression in
    // either direction of the tokenizer shows up as a hash mismatch
    // here, not just a failed unit spec.
    declare("doc_detokenize")((s, dir) => {
      val d = extDocs(s, dir)
      val fixture = graft.text.ByteLevel.externalFixtureMerges()
      val ids = graft.text.ByteLevel.tokenIds(d, fixture)
      graft.text.ByteLevel.detokenize(ids, fixture)
        .join(d, "doc_id")
        .select(col("doc_id"), col("text_rt"),
          (col("text_rt") === col("text")).as("lossless"))
        .orderBy(col("doc_id"))
    })(detokenizeOracleSql(maxIters = 36)),

    // The trainer feed end-to-end: GPT-2-path token ids packed into
    // fixed-budget context windows and materialized as packed ID
    // SEQUENCES per (part, bin) — tokenize → pack → emit, the last
    // mile of the pretraining data pipeline. Packing rides the shared
    // greedy part-local recurrence (seq_pack); the oracle chains the
    // gpt2 ids prefix into the same recursive replay and the ordered
    // flatten.
    declare("seq_pack_ids")((s, dir) => {
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
    })(seqPackIdsOracleSql(maxIters = 36, budget = 512L, nParts = 8)),

    // FIM (fill-in-the-middle, Bavarian et al. 2022 — PSM format):
    // the infilling-training transform — each document splits at
    // deterministic char points (1/3, 2/3) and reorders to
    // <PRE>prefix<SUF>suffix<MID>middle, so the model learns to
    // generate the middle conditioned on both sides. Pure whole-stage
    // codegen string arithmetic (substr on column-derived offsets,
    // one narrow scan, no shuffle); the oracle replays the identical
    // integer-division split math.
    declare("doc_fim_transform")((s, dir) => {
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
    })(
      // The identical integer-division split math over the raw text.
      """WITH s AS (SELECT doc_id, text,
        |             len(text) // 3 AS c1, (len(text) * 2) // 3 AS c2
        |           FROM documents)
        |SELECT doc_id,
        |       '<PRE>' || substr(text, 1, c1)
        |         || '<SUF>' || substr(text, c2 + 1)
        |         || '<MID>' || substr(text, c1 + 1, c2 - c1) AS fim_text,
        |       CAST(c2 - c1 AS BIGINT) AS n_mid_chars
        |FROM s ORDER BY doc_id""".stripMargin),

    // SFT loss masking end-to-end (completion-only loss, the
    // InstructGPT-family convention): deterministic role-alternating
    // turns, each turn tokenized SEPARATELY through the ranked
    // byte-level kernel, framed by added-token role markers,
    // EOS-terminated, with the mask = 1 exactly on assistant-content
    // ids. The oracle rebuilds the turn table in SQL, replays the
    // gpt2 id machinery over it, and re-frames with the same special
    // ids (HF added-token convention: after the merge block).
    declare("seq_sft_mask")((s, dir) => {
      graft.text.Sft.maskedTokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("loss_mask"), x => x === 1)).cast("long").as("n_loss"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"),
          md5(concat_ws(",", col("loss_mask"))).as("mask_md5"))
        .orderBy(col("doc_id"))
    })(sftMaskOracleSql(maxIters = 36, turnLen = 8, keyStride = 1000000L)),

    // Byte-level train→APPLY end-to-end: the rounds learned over the
    // byte-level word table tokenize the extended corpus through the
    // shared word cache (distinct PRETOKENS, one combined fold per
    // round, positional rejoin) — case, punctuation, and emoji survive
    // into subwords the char-level path cannot produce.
    declare("doc_bpe_bytelevel_tokenize")((s, dir) => {
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
    })(
      bpeByteLevelTokenizeOracleSql(rounds = 4, batchSize = 8, candCap = 128))
  )
}
