package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ByteLevelUtil, VectorExpressions}

/** Byte-level BPE pretokenization (the GPT-2 construction, public
  * spec): raw text — NO normalization, byte-level keeps everything —
  * splits into pretokens by a regex, each pretoken decomposes into its
  * UTF-8 bytes, and every byte maps to a printable character via the
  * published `bytes_to_unicode` table ([[ByteLevelUtil.ByteToSym]]).
  * BPE then runs over those byte symbols, so the learned vocabulary
  * covers 100% of any input — punctuation, non-ASCII, emoji — where
  * the char-level path ([[TextAnalysis.tokens]]: lowercase, collapse
  * whitespace, split on space) silently drops everything
  * non-alphanumeric from the alphabet.
  *
  * The pretokenizer deviates from GPT-2's in ONE documented way: the
  * original ends with `\s+(?!\S)|\s+` (trailing-space lookahead), but
  * RE2 — the DuckDB oracle's engine — has no lookahead, so both sides
  * run the lookahead-free tail `|\s+` (a multi-space run becomes one
  * whitespace pretoken). Contractions and the letter/number/punct
  * classes are GPT-2's. U+000B (vertical tab) is the one byte Java
  * and RE2 class `\s` disagree on; corpus fixtures avoid it. */
object ByteLevel {

  /** RE2-compatible GPT-2-style pretokenizer (no lookahead). */
  val PretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Pretokens of RAW text (no normalization — the byte-level point). */
  def pretokens(c: Column): Column =
    regexp_extract_all(c, lit(PretokenPattern), lit(0))

  /** The round-0 byte-level word table: (syms, cnt) — weighted distinct
    * pretokens, each symbolized byte-by-byte. No `</w>` marker: the
    * space byte rides inside the pretoken as its mapped symbol (`Ġ`). */
  def wordTable(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(explode(pretokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(VectorExpressions.byteLevelSyms(col("tok")).as("syms"), col("cnt"))

  /** Batched byte-level training flattened to the tokenizer artifact
    * shape (merge_rank, lhs, rhs, pair_count) — [[Bpe.learnMergesBatched]]
    * over the byte-level word table. */
  def learnMergesBatched(
      df: DataFrame,
      textCol: String = "text",
      rounds: Int = 4,
      batchSize: Int = 8,
      candCap: Int = 128): DataFrame = {
    val spark = df.sparkSession
    val flat = Bpe.learnRoundsFrom(wordTable(df, textCol), rounds, batchSize, candCap)
      .flatten.zipWithIndex
      .map { case ((a, b, n), i) => (i + 1, a, b, n) }
    spark.createDataFrame(flat)
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** Tokenize with a ROUND-GROUPED byte-level merge list — the
    * byte-level twin of [[Bpe.applyMergesGrouped]]: the word cache
    * holds DISTINCT PRETOKENS (raw, case- and punctuation-preserving),
    * each symbolized byte-by-byte, with one combined disjoint-rule
    * fold per training round; documents re-assemble through the shared
    * positional join. Cost linear in rounds and corpus, never rules. */
  def applyMergesGrouped(df: DataFrame,
      mergeRounds: Seq[Seq[(String, String)]],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true): DataFrame = {
    var vocab = df
      .select(explode(pretokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .select(col("word"),
        VectorExpressions.byteLevelSyms(col("word")).as("syms"))
      .localCheckpoint()
    mergeRounds.filter(_.nonEmpty).foreach { batch =>
      vocab = vocab
        .select(col("word"), Bpe.applyMergeBatch(col("syms"), batch).as("syms"))
        .localCheckpoint()
    }
    Bpe.joinBackBySubwords(df, vocab, idCol, textCol, broadcastVocab,
      tokensOf = pretokens)
  }

  /** Tokenize with an EXTERNAL rank-ordered BYTE-LEVEL merge list —
    * the full GPT-2 production inference path: raw-text pretokens,
    * byte symbolization, then the standard priority loop
    * (lowest-ranked present pair first) as one codegen kernel per
    * DISTINCT pretoken ([[Bpe.applyMergesRanked]]'s byte-level twin).
    * One narrow map stage regardless of rule count. The default
    * `maxIters = `[[Bpe.AutoIters]] derives the iteration bound from
    * the data (`max(pretoken byte count) − 1` — convergence
    * structural, bound logged). */
  def applyMergesRanked(df: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true, maxIters: Int = Bpe.AutoIters): DataFrame = {
    val (words, bound) = pinnedWordsAndBound(df, textCol, maxIters)
    val vocab = words
      .select(col("word"),
        VectorExpressions.bpeRankMerge(
          VectorExpressions.byteLevelSyms(col("word")),
          merges, bound).as("syms"))
    Bpe.joinBackBySubwords(df, vocab, idCol, textCol, broadcastVocab,
      tokensOf = pretokens)
  }

  /** Shared head of the ranked byte-level appliers: the distinct
    * pretoken table, plus the resolved iteration bound — derived from
    * the data in [[Bpe.AutoIters]] mode (a pretoken's symbol count is
    * exactly its UTF-8 byte count, so the bound aggregate is an
    * `octet_length` max — no symbolization pass needed). */
  private def pinnedWordsAndBound(
      df: DataFrame, textCol: String, maxIters: Int): (DataFrame, Int) = {
    val words = df
      .select(explode(pretokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    if (maxIters == Bpe.AutoIters) {
      val w = words.localCheckpoint()
      (w, Bpe.derivedIterBound(w, octet_length(col("word"))))
    } else (words, maxIters)
  }

  /** The shipped BYTE-LEVEL external merge-list fixture (~1.1k
    * rank-ordered, non-disjoint rules over the byte alphabet, Ġ-space
    * merges included), generated deterministically by
    * `graft.tools.GenExtMerges.byteLevelFixtureText` and
    * byte-compare-pinned by spec. */
  def externalFixtureMerges(): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe/ext_merges_bytelevel.txt")
    require(in != null,
      "fixture resource graft/bpe/ext_merges_bytelevel.txt not on classpath")
    try Bpe.parseMergesTxt(
      scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** The vocabulary id table a merge list induces (what GPT-2 ships as
    * `vocab.json`): the 256 base byte symbols get ids 0–255 in byte
    * order, each merge's output symbol gets 256 + rank. Two different
    * rules CAN produce the same string (("a","bc") and ("ab","c") both
    * yield "abc"); first rank wins, matching the first-occurrence
    * convention a real vocab file encodes. Every symbol the priority
    * loop can ever emit — base or merge output — has exactly one id. */
  def vocabForMerges(merges: Seq[(String, String)],
      specials: Seq[String] = Nil): Seq[(String, Int)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    ByteLevelUtil.ByteToSym.zipWithIndex.foreach { case (s, b) => out(s) = b }
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      val sym = a + b
      if (!out.contains(sym)) out(sym) = 256 + i
    }
    // special tokens take the ids AFTER the merge block, offset by the
    // TOTAL rule count — GPT-2's convention exactly (<|endoftext|> =
    // 256 + 50000 = 50256). Offsetting by the deduped output count
    // instead would shift special ids whenever a merge list contains
    // duplicate output strings, diverging from vocab files produced by
    // upstream tooling.
    specials.zipWithIndex.foreach { case (s, k) =>
      require(!out.contains(s), s"special token '$s' collides with the vocabulary")
      out(s) = 256 + merges.size + k
    }
    out.toVector
  }

  /** Tokenize to TOKEN IDS — the tensor a model actually consumes:
    * [[applyMergesRanked]]'s subwords mapped through
    * [[vocabForMerges]]'s id table INSIDE THE WORD CACHE — the id
    * probe runs once per DISTINCT word's subwords, never per document
    * token (measured 1.1 s/sweep cheaper than mapping post-join at
    * sf0.1, and the gap is corpus-proportional), and it is a HASHED
    * reference-object lookup ([[VectorExpressions.vocabIds]]): O(1)
    * per subword at any vocabulary size. The earlier `typedLit` map
    * literal probed via `element_at` was a linear scan per lookup —
    * invisible at the 1.4k fixture vocab, 50k comparisons per subword
    * at a GPT-2-sized one. Documents then join the (word → id list)
    * cache and flatten positionally as usual.
    * Output: (idCol, token_ids). */
  def tokenIds(df: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true, maxIters: Int = Bpe.AutoIters,
      eos: Option[String] = None): DataFrame = {
    val vocabIds = vocabForMerges(merges, eos.toSeq)
    tokenIdsWith(df, merges, vocabIds,
      eos.map(e => vocabIds.toMap.apply(e)),
      idCol, textCol, broadcastVocab, maxIters)
  }

  /** [[tokenIds]] with the id table supplied by the CALLER — the seam
    * a released `tokenizer.json` feeds ([[HfTokenizer]]): ids come
    * from the file's own vocab map, never re-derived from this
    * engine's conventions. `eosId` (when set) appends one terminator
    * id per DOCUMENT. */
  def tokenIdsWith(df: DataFrame, merges: Seq[(String, String)],
      vocabIds: Seq[(String, Int)], eosId: Option[Int],
      idCol: String = "doc_id", textCol: String = "text",
      broadcastVocab: Boolean = true, maxIters: Int = Bpe.AutoIters): DataFrame = {
    val (words, bound) = pinnedWordsAndBound(df, textCol, maxIters)
    val vocab = words
      .select(col("word"),
        VectorExpressions.vocabIds(
          VectorExpressions.bpeRankMerge(
            VectorExpressions.byteLevelSyms(col("word")), merges, bound),
          vocabIds).as("syms"))
    val base = Bpe.joinBackBySubwords(df, vocab, idCol, textCol, broadcastVocab,
        tokensOf = pretokens)
      .withColumnRenamed("bpe_tokens", "token_ids")
    // the document terminator every packed pretraining corpus carries
    // (ids are EOS-separated when bins concatenate downstream) — one
    // array append per DOCUMENT, never per token
    eosId.fold(base) { e =>
      base.withColumn("token_ids",
        concat(col("token_ids"), array(lit(e))))
    }
  }

  /** DECODE — token ids back to raw text, the inverse of [[tokenIds]]:
    * each id resolves through the reverse vocabulary to its subword,
    * subword chars unmap to raw bytes (the inverse byte alphabet), and
    * the bytes UTF-8-decode — one codegen kernel per row with O(1)
    * hashed id probes ([[VectorExpressions.byteLevelDecode]]). Output:
    * (idCol, text_rt). Unknown/null ids (a foreign vocabulary) decode
    * to null, never to silently partial text; special tokens decode to
    * their literal name (upstream decode-with-specials semantics).
    * Byte-level BPE is lossless by construction, so
    * `detokenize(tokenIds(df)) == df` row-for-row — the round-trip the
    * `doc_detokenize` query puts under the driver's hash gate. */
  def detokenize(ids: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", idsCol: String = "token_ids",
      specials: Seq[String] = Nil): DataFrame =
    ids.select(col(idCol),
      VectorExpressions.byteLevelDecode(
        col(idsCol), vocabForMerges(merges, specials)).as("text_rt"))

  /** Alphabet-coverage report — the byte-fallback property measured,
    * one row: of the corpus's distinct non-whitespace characters
    * (code points), how many are representable in the byte-level base
    * alphabet (all of them — every character decomposes into mapped
    * byte symbols, each of the 256 byte values has one) versus how many
    * survive into the CHAR-LEVEL token alphabet (the distinct
    * characters of [[TextAnalysis.tokens]] output — lowercased
    * alphanumerics and whatever else survives whitespace
    * tokenization; uppercase, punctuation, and emoji do not).
    * Work shape: two narrow explodes + distinct aggregates — one pass
    * each, no joins wider than the distinct-char set (bounded by the
    * corpus alphabet, thousands at web scale). */
  def coverageReport(df: DataFrame, textCol: String = "text"): DataFrame = {
    val chars = df
      .select(explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) > 0 && !col("ch").rlike("^\\s$"))
      .distinct()
    val charLevelAlphabet = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(split(col("w"), "")).as("ch"))
      .distinct()
    // byte-level coverage is COMPUTED, not assumed: a char is covered
    // iff every one of its UTF-8 byte symbols is in the 256-entry base
    // alphabet (the oracle replays this as a byte-map join count)
    val alphabet = ByteLevelUtil.ByteToSym.toSeq
    chars
      .withColumn("in_byte_level",
        forall(VectorExpressions.byteLevelSyms(col("ch")),
          s => s.isInCollection(alphabet)).cast("long"))
      .join(charLevelAlphabet.withColumn("in_char_level", lit(1L)),
        Seq("ch"), "left")
      .agg(
        count(lit(1)).as("n_chars"),
        sum(col("in_byte_level")).cast("long").as("n_covered_bytelevel"),
        sum(coalesce(col("in_char_level"), lit(0L))).cast("long")
          .as("n_covered_charlevel"))
      .select(col("n_chars"), col("n_covered_bytelevel"),
        col("n_covered_charlevel"),
        (col("n_covered_bytelevel") * lit(100.0) / col("n_chars"))
          .as("bytelevel_pct"))
  }

  /** SQL VALUES body for the 256-row byte→symbol map (the oracle's
    * copy of [[ByteLevelUtil.ByteToSym]]); single quotes doubled. */
  def byteMapValuesSql: String =
    ByteLevelUtil.ByteToSym.zipWithIndex.map { case (s, b) =>
      s"($b,'${s.replace("'", "''")}')"
    }.mkString(",")
}
