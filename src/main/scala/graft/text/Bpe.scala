package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. ACL'16,
  * arXiv:1508.07909): learn the first N byte-pair-encoding merge rules
  * from the corpus — the tokenizer-construction step of every LLM data
  * pipeline (GPT-2/RoBERTa vocabularies are exactly such merge lists).
  *
  * The classic scale trick (Sennrich's own implementation, fastBPE,
  * HuggingFace trainers) is to run merge rounds over the DISTINCT-WORD
  * table, not the corpus: one corpus pass builds (word, count), and
  * every subsequent round costs O(|vocab|), independent of corpus
  * size. This maps exactly onto Spark:
  *
  *  - round 0: tokenize → explode → word counts (the one corpus-sized
  *    aggregation, map-side partial combined), symbolize each word to
  *    its character list + `</w>` end marker;
  *  - each round: adjacent-pair explode over the word table (narrow),
  *    weighted pair counts (vocab-bounded shuffle), selection, then a
  *    narrow fold that applies the round's merges greedily
  *    left-to-right to every word's symbol list.
  *
  * Two selection modes:
  *
  *  - [[learnMerges]]: ONE merge per round (the textbook algorithm) —
  *    a 1-row argmax per round. Exact, but a 32k-merge production
  *    vocabulary would mean 32k sequential driver-coordinated jobs.
  *  - [[learnRounds]] / [[learnMergesBatched]]: up to `batchSize`
  *    merges per round (the fastBPE-style amortization). Candidates
  *    are ranked (count desc, pair asc) and greedily kept unless they
  *    share a symbol — over {lhs, rhs, lhs+rhs} — with an
  *    already-kept candidate (the lhs+rhs term covers created-symbol
  *    interactions: a rule whose input is another rule's output must
  *    wait a round, or batch order would change the result). Kept
  *    rules are therefore pairwise symbol-disjoint, which makes ONE
  *    combined greedy fold over the round's rule set exactly equal to
  *    applying them sequentially in rank order — one materialized
  *    vocab-table step per ROUND instead of per rule, so ~90 rules
  *    cost 8 rounds at batch 16 instead of 90 driver round-trips.
  *    The SQL oracle replays the greedy pick as `batchSize` chained
  *    1-row NOT-EXISTS CTEs (pick k = the lowest-ranked candidate not
  *    conflicting with picks 1..k-1); a recursive-CTE formulation was
  *    rejected — DuckDB 1.0 silently mis-evaluates recursive CTEs
  *    consumed under materialized upstreams
  *    (`graft.queries.TokenizerQueries.bpeBatchRoundSql`).
  *
  * The greedy application is a left fold seeded with the first symbol:
  * runs of a self-pair (`a a a a` under merge `(a,a)`) compress to
  * `aa aa` — pairwise, non-overlapping, never re-merging the symbol
  * just created — which string-replace style application gets wrong;
  * the DuckDB oracle replays the identical fold via `list_reduce`.
  * The word table is `localCheckpoint`ed per round so N rounds iterate
  * on a materialized vocab-sized table instead of an N-deep lineage.
  */
object Bpe {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Sentinel for the ranked-apply `maxIters` parameters: derive the
    * iteration bound from the data — `max(symbol count) − 1` over the
    * distinct-word table (one vocab-bounded aggregate; the bound is
    * logged). Every priority-loop iteration shrinks a word by at least
    * one symbol, so this bound makes full convergence STRUCTURAL: no
    * pretoken — a long URL, a digit run, a CJK-heavy span — can
    * silently under-merge relative to the published BPE semantics the
    * way a fixed bound shorter than the longest word allows. The SQL
    * oracles keep their unroll-exactly-N contract with a static N ≥
    * any corpus's derived bound (converged words idle through surplus
    * layers untouched — the LEFT JOIN + CASE pass-through — so any
    * N ≥ bound yields identical results; specs assert the ≥). */
  val AutoIters = 0

  /** The derived ranked-apply iteration bound: `max(symCount) − 1`
    * (at least 1) over `words`. */
  private[text] def derivedIterBound(words: DataFrame, symCount: Column): Int = {
    val row = words.agg(max(symCount.cast("int"))).head()
    val maxLen = if (row.isNullAt(0)) 2 else row.getInt(0)
    val bound = math.max(1, maxLen - 1)
    log.info(s"derived BPE ranked-apply iteration bound $bound (max symbol count $maxLen)")
    bound
  }

  /** Key separator inside the batch-merge lookup map (the oracle uses
    * chr(1) for the same key). U+0001 is RESERVED by construction, not
    * by assumption: [[selectBatch]] never keeps a candidate whose
    * symbol contains it, so every map key holds exactly one separator,
    * while a probe key built from a U+0001-carrying data symbol holds
    * at least two or ends with one - such a probe can never collide
    * with a clean key, it just fails to merge (normalizeText only
    * lowercases and collapses whitespace, so adversarial text CAN
    * carry U+0001 into tokens; it then never joins a merge rule). */
  private[text] val Sep = "\u0001"

  /** Adjacent symbol pairs of `syms` as (a, b) structs. */
  private[text] def adjacentPairs(syms: Column): Column =
    transform(slice(syms, lit(1), size(syms) - 1),
      (x, i) => struct(x.as("a"), element_at(syms, i + lit(2)).as("b")))

  /** Apply merge (a, b) → ab to a symbol list, greedy left-to-right:
    * fold seeded with the first symbol; a step either merges into the
    * accumulator's last element or appends. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      array(element_at(syms, 1)),
      (acc, x) => when(element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Apply a BATCH of pairwise symbol-disjoint merges in one greedy
    * left-to-right fold: the (last, next) pair is looked up in a
    * literal map — O(1) expression growth per rule, one fold layer per
    * round. Disjointness (the [[selectBatch]] invariant) is what makes
    * this equal to applying the batch sequentially in rank order:
    * no rule consumes or produces a symbol another rule in the batch
    * mentions, so merge sites never interact. */
  private[text] def applyMergeBatch(
      syms: Column, batch: Seq[(String, String)]): Column = {
    val lookup = map(batch.flatMap { case (a, b) =>
      Seq(lit(a + Sep + b), lit(a + b)) }: _*)
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      array(element_at(syms, 1)),
      (acc, x) => {
        val merged =
          try_element_at(lookup, concat(element_at(acc, -1), lit(Sep), x))
        when(merged.isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
          .otherwise(concat(acc, array(x)))
      })
  }

  /** The batch-selection rule, driver-side (the oracle replays it as
    * chained 1-row NOT-EXISTS CTEs over the same ranked candidate
    * list — see `graft.queries.TokenizerQueries.bpeBatchRoundSql`): scan
    * candidates in (count desc, a, b) order; keep one iff it shares NO
    * symbol — over {lhs, rhs, lhs+rhs} — with any ALREADY-KEPT
    * candidate, and its symbols are free of the reserved [[Sep]]
    * separator (keeps the lookup-map keys unambiguous on adversarial
    * input; clean corpora are unaffected); stop at `batchSize`
    * keepers. This is the standard
    * greedy maximal-independent-set pick: a rejected candidate does
    * NOT poison later ones (the alternative non-recursive rule —
    * conflict against every higher-ranked candidate, kept or not —
    * measured 3–5 selections per round on the fixtures where this
    * rule sustains 9–16, because early BPE's top pairs all share the
    * few most frequent letters). */
  private[text] def selectBatch(
      cands: Seq[(String, String, Long)],
      batchSize: Int): Seq[(String, String, Long)] = {
    val sel = ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < cands.length && sel.size < batchSize) {
      val (a, b, _) = cands(i)
      if (!(used(a) || used(b) || used(a + b)) &&
          !a.contains(Sep) && !b.contains(Sep)) {
        sel += cands(i)
        used += a; used += b; used += (a + b)
      }
      i += 1
    }
    sel.toSeq
  }

  /** The shared round-0 word table: (syms, cnt). */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms"),
        col("cnt"))

  /** Learn the first `numMerges` merge rules, ONE per round (textbook
    * Sennrich). Returns a driver-built DataFrame
    * (merge_rank, lhs, rhs, pair_count) — `numMerges` rows, the
    * artifact a tokenizer consumes. For realistic vocabulary sizes use
    * [[learnMergesBatched]] — this form runs one driver-coordinated
    * job set per merge. */
  def learnMerges(
      df: DataFrame,
      textCol: String = "text",
      numMerges: Int = 8): DataFrame = {
    val spark = df.sparkSession
    var words = wordTable(df, textCol).localCheckpoint()
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val top = words
        .select(col("cnt"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        words = words
          .select(applyMerge(col("syms"), a, b).as("syms"), col("cnt"))
          .localCheckpoint()
        r += 1
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** Batched trainer core: `rounds` rounds of up-to-`batchSize` merges
    * each. Per round: vocab-bounded weighted pair counts, the top
    * `candCap` candidates collected (bounded driver artifact, the
    * argmax generalized), [[selectBatch]]'s conflict rule, then ONE
    * combined fold applying the whole batch ([[applyMergeBatch]]).
    * Returns the per-round rule batches (possibly fewer than
    * `batchSize` in a round when top candidates conflict; empty once
    * the pair table is exhausted — the round structure is kept so an
    * unrolled oracle replays it exactly). Total driver-coordinated
    * job sets: `rounds`, independent of total rule count — a 32k-rule
    * vocabulary at batch 512 is 64 rounds, not 32k. */
  def learnRounds(
      df: DataFrame,
      textCol: String = "text",
      rounds: Int = 4,
      batchSize: Int = 16,
      candCap: Int = 256): Seq[Seq[(String, String, Long)]] =
    learnRoundsFrom(wordTable(df, textCol), rounds, batchSize, candCap)

  /** [[learnRounds]] over a caller-supplied round-0 word table
    * (syms: Array[String], cnt: Long) — the symbolization seam that
    * lets the byte-level tokenizer ([[ByteLevel.wordTable]]) share the
    * whole batched-training machinery with the whitespace/char-level
    * path. */
  def learnRoundsFrom(
      words0: DataFrame,
      rounds: Int,
      batchSize: Int,
      candCap: Int): Seq[Seq[(String, String, Long)]] = {
    require(batchSize >= 1 && candCap >= batchSize,
      s"need candCap >= batchSize >= 1, got $candCap/$batchSize")
    var words = words0.localCheckpoint()
    val out = ArrayBuffer.empty[Seq[(String, String, Long)]]
    for (_ <- 1 to rounds) {
      val cands = words
        .select(col("cnt"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(candCap)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val sel = selectBatch(cands, batchSize)
      out += sel
      if (sel.nonEmpty)
        words = words
          .select(
            applyMergeBatch(col("syms"), sel.map(t => (t._1, t._2))).as("syms"),
            col("cnt"))
          .localCheckpoint()
    }
    out.toSeq
  }

  /** [[learnRounds]] flattened to the tokenizer artifact shape:
    * (merge_rank, lhs, rhs, pair_count), merge_rank global in
    * round-major selection order. `pair_count` is the pair's weighted
    * count AT ROUND START (counts within a round are measured before
    * any of the round's merges apply — the batched spec, replayed
    * verbatim by the oracle). */
  def learnMergesBatched(
      df: DataFrame,
      textCol: String = "text",
      rounds: Int = 4,
      batchSize: Int = 16,
      candCap: Int = 256): DataFrame = {
    val spark = df.sparkSession
    val flat = learnRounds(df, textCol, rounds, batchSize, candCap)
      .flatten.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1, a, b, n) }
    spark.createDataFrame(flat)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  private val mergeSidecar = "_graft_bpe_sidecar.json"

  /** Idempotently persist the batched-training merge artifact at `dir`
    * behind the fingerprint-sidecar protocol
    * ([[graft.io.Artifact.ensure]]): one parquet row per learned rule,
    * (round, sel_rank, lhs, rhs, pair_count) — the tokenizer file of
    * this engine, built once per (corpus, params) and probed by every
    * later training read or tokenize run (the IVF/BM25/phrase-set
    * discipline applied to the vocabulary itself; a GPT-2-style
    * `merges.txt` is exactly this artifact). Fingerprint covers the
    * corpus text content AND every training parameter. */
  def ensureMergeArtifact(
      spark: SparkSession,
      df: DataFrame,
      dir: String,
      textCol: String = "text",
      rounds: Int = 8,
      batchSize: Int = 16,
      candCap: Int = 256): Unit = {
    val (nRows, dataHash, hashSum) =
      graft.io.Artifact.hashAgg(df, xxhash64(col(textCol)))
    graft.io.Artifact.ensure(dir, mergeSidecar,
      graft.io.Artifact.fingerprintJson(nRows, dataHash,
        "hsum" -> hashSum,
        "textCol" -> textCol, "rounds" -> rounds.toString,
        "batchSize" -> batchSize.toString, "candCap" -> candCap.toString)) {
      val flat = learnRounds(df, textCol, rounds, batchSize, candCap)
        .zipWithIndex.flatMap { case (batch, r) =>
          batch.zipWithIndex.map { case ((a, b, n), i) => (r + 1, i + 1, a, b, n) }
        }
      spark.createDataFrame(flat)
        .toDF("round", "sel_rank", "lhs", "rhs", "pair_count")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dir/data")
    }
  }

  /** The persisted merge artifact in the trainer's output shape:
    * (merge_rank, lhs, rhs, pair_count), merge_rank global in
    * round-major selection order — equals [[learnMergesBatched]] on
    * the same corpus/params (spec-pinned). */
  def mergesFromArtifact(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("round").asc, col("sel_rank").asc)
    spark.read.parquet(s"$dir/data")
      .withColumn("merge_rank", row_number().over(w))
      .select(col("merge_rank"), col("lhs"), col("rhs"), col("pair_count"))
      .orderBy("merge_rank")
  }

  /** The persisted artifact as [[learnRounds]] output (minus counts) —
    * what [[applyMergesGrouped]] consumes. Bounded read: the rule list
    * is vocabulary-sized driver state by design. */
  def loadMergeRounds(spark: SparkSession, dir: String): Seq[Seq[(String, String)]] =
    spark.read.parquet(s"$dir/data")
      .select("round", "sel_rank", "lhs", "rhs")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(t => (t._3, t._4)).toSeq)

  /** The corpus VOCABULARY after applying `mergeRounds`: one row per
    * subword symbol with its weighted occurrence count, top `topK` by
    * (count desc, subword) — the vocab table a trained tokenizer ships
    * next to its merge list (what GPT-2's `vocab.json` enumerates).
    * Work shape: the one corpus-sized word count, then vocab-bounded
    * folds (one combined fold per round, the [[applyMergeBatch]]
    * discipline) and a vocab-bounded aggregate — corpus text is read
    * exactly once regardless of round count. */
  def vocabAfterRounds(
      df: DataFrame,
      mergeRounds: Seq[Seq[(String, String)]],
      textCol: String = "text",
      topK: Int = 50): DataFrame = {
    var words = wordTable(df, textCol).localCheckpoint()
    mergeRounds.filter(_.nonEmpty).foreach { batch =>
      words = words
        .select(applyMergeBatch(col("syms"), batch).as("syms"), col("cnt"))
        .localCheckpoint()
    }
    words
      .select(explode(col("syms")).as("subword"), col("cnt"))
      .groupBy("subword").agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("subword"))
      .limit(topK)
  }

  /** Tokenize `textCol` with a learned merge list (the inference half
    * of BPE), via the tokenizer word-cache: the merge folds run once
    * per DISTINCT word — vocab-sized work, the same trick as training
    * — with ONE materialized step per rule ([[applyMerge]] +
    * `localCheckpoint`, the training-round discipline: a nested
    * fold-per-rule expression references its input ~4× per layer, so
    * 6 collapsed layers blow the expression tree up ~4⁶ and measured
    * 30–80 s where this shape takes under a second). Every document's
    * positional words then join the word→subwords table and
    * re-assemble in position order. Output: (idCol, bpe_tokens).
    * Empty-string tokens (an empty document) carry no subwords and
    * drop out.
    *
    * `broadcastVocab` ships the distinct-word table to every task —
    * right when the vocabulary fits in executor memory (and it pins
    * the join strategy for plan stability); set false for
    * open-vocabulary web-scale corpora, where the positional join
    * shuffles on the word key instead (the pmiPairs
    * `broadcastUnigrams` convention). Rule-count scaling: one
    * materialized vocab step PER RULE — linear; for long rule lists
    * prefer [[applyMergesGrouped]], which steps per ROUND. */
  def applyMerges(df: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true): DataFrame =
    applyMergesGrouped(df, merges.map(Seq(_)), idCol, textCol, broadcastVocab)

  /** Tokenize with a ROUND-GROUPED merge list (the [[learnRounds]]
    * artifact): each group is a set of pairwise symbol-disjoint rules
    * applied as ONE combined fold + one materialized vocab step —
    * cost linear in ROUNDS, not rules, which is what makes a
    * realistic-vocabulary tokenizer (64 rules = 4 steps at batch 16;
    * 32k rules = 64 steps at batch 512) runnable at all. Groups must
    * honor the training-time disjointness invariant; [[learnRounds]]
    * output always does. */
  def applyMergesGrouped(df: DataFrame, mergeRounds: Seq[Seq[(String, String)]],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true): DataFrame = {
    var vocab = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"),
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))
      .localCheckpoint()
    mergeRounds.filter(_.nonEmpty).foreach { batch =>
      vocab = vocab
        .select(col("word"), applyMergeBatch(col("syms"), batch).as("syms"))
        .localCheckpoint()
    }
    joinBackBySubwords(df, vocab, idCol, textCol, broadcastVocab)
  }

  /** Tokenize with an EXTERNAL rank-ordered merge list — rules where
    * later merges consume earlier merges' outputs (GPT-2's 50k-rule
    * `merges.txt` has no disjointness property, so neither the
    * per-rule [[applyMerges]] chain — one materialized vocab step per
    * RULE — nor the round-grouped fold is the right tool). The
    * standard inference semantics (Sennrich `apply_bpe.py`, GPT-2
    * `bpe()`): per word, repeatedly merge the lowest-ranked adjacent
    * pair present until none remains. The word-cache discipline is
    * kept — the priority loop runs ONCE per DISTINCT word — but the
    * whole loop is a single codegen kernel over a hashed rank map
    * ([[org.apache.spark.sql.graft.BpeRankMergeExpr]]), so the plan
    * has ONE narrow map stage regardless of rule count: no
    * localCheckpoint chain, no per-rule folds; rule count sizes only
    * the broadcast-once rank map. `maxIters` bounds the per-word loop;
    * the default [[AutoIters]] derives it from the data
    * (`max(symbol count) − 1` — full convergence guaranteed, bound
    * logged), so no pretoken can silently under-merge; an explicit
    * bound keeps the unroll-exactly-N spec for callers that pin it. */
  def applyMergesRanked(df: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true, maxIters: Int = AutoIters): DataFrame = {
    val words = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    // in auto mode pin the (vocab-sized) distinct-word table so the
    // bound aggregate and the merge fold read one materialization, not
    // two corpus-sized recomputes
    val (pinned, bound) =
      if (maxIters == AutoIters) {
        val w = words.localCheckpoint()
        (w, derivedIterBound(w, size(split(col("word"), "")) + lit(1)))
      } else (words, maxIters)
    val vocab = pinned
      .select(col("word"),
        org.apache.spark.sql.graft.VectorExpressions.bpeRankMerge(
          concat(split(col("word"), ""), array(lit("</w>"))),
          merges, bound).as("syms"))
    joinBackBySubwords(df, vocab, idCol, textCol, broadcastVocab)
  }

  /** Shared tail of the tokenizer word-cache: every document's
    * positional words join the (word → subwords) table and re-assemble
    * in position order. Output: (idCol, bpe_tokens); empty-string
    * tokens (an empty document) carry no subwords and drop out.
    * `tokensOf` is the pretokenization seam — whitespace tokens for the
    * char-level path, [[ByteLevel.pretokens]] for byte-level. */
  private[text] def joinBackBySubwords(df: DataFrame, vocab: DataFrame,
      idCol: String, textCol: String, broadcastVocab: Boolean,
      tokensOf: Column => Column = TextAnalysis.tokens): DataFrame = {
    val pos = df
      .select(col(idCol),
        posexplode(tokensOf(col(textCol))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val vocabSide = if (broadcastVocab) broadcast(vocab) else vocab
    pos.join(vocabSide, "word")
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        x => x.getField("syms"))).as("bpe_tokens"))
  }

  /** The shipped external merge-list fixture (rank order = file order;
    * `lhs rhs` per line, GPT-2 `merges.txt` layout), generated
    * deterministically by `graft.tools.GenExtMerges` (a spec re-runs
    * the generator and byte-compares, so provenance is reproducible).
    * ~1.1k rules, rank-ordered and NON-disjoint — the shape
    * [[applyMergesRanked]] exists for. */
  def externalFixtureMerges(): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe/ext_merges.txt")
    require(in != null, "fixture resource graft/bpe/ext_merges.txt not on classpath")
    try parseMergesTxt(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Load a rank-ordered merge list from a `merges.txt`-layout file on
    * disk — the entry point for a user bringing a published tokenizer's
    * rules (GPT-2/RoBERTa ship exactly this file; a leading `#version`
    * comment line, as GPT-2's has, is skipped). Feed the result to
    * [[applyMergesRanked]]. */
  def loadMergesTxt(path: String): Seq[(String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parseMergesTxt(src.getLines()) finally src.close()
  }

  /** merges.txt parsing, shared by the loaders here and the byte-level
    * fixture reader. ONLY a leading `#version` header line is skipped
    * (GPT-2's file starts with `#version: 0.2` and upstream loaders —
    * openai's encoder.py, HF's GPT2Tokenizer — drop exactly that one
    * line): real merge lists contain legitimate rules whose lhs IS `#`
    * (`# #`, `## #` — vocab.json carries `##`/`###` tokens), so
    * filtering every `#`-prefixed line would silently lose rules and
    * shift every subsequent rank. */
  private[text] def parseMergesTxt(lines: Iterator[String]): Seq[(String, String)] = {
    val it = lines.buffered
    if (it.hasNext && it.head.startsWith("#version")) it.next()
    it
      .filter(_.nonEmpty)
      .map { line =>
        val sp = line.indexOf(' ')
        require(sp > 0 && sp < line.length - 1, s"malformed merges.txt line: '$line'")
        (line.substring(0, sp), line.substring(sp + 1))
      }
      .toVector
  }
}
