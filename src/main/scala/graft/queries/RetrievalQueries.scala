package graft
package queries

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

import Fixtures._

/** Text retrieval: BM25, phrase, proximity and substring search over the
  * persisted posting stores, their batch probes and one-statement SQL
  * twins, hybrid fusion and TF-IDF. */
object RetrievalQueries {
  private val declare = new Declared.Family("retrieval")

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

  /** Brute-force token-slice oracle shared by doc_phrase_search and
    * sql_phrase_search. */
  private lazy val PhraseOracleSql: String = phraseSqlOver("documents")

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

  /** The same BM25 oracle at an arbitrary cut — shared with the
    * hybrid-RRF retrieval oracle's candidate stage. */
  private def bm25Sql(topN: Int): String = bm25SqlOver("documents", topN)

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

  /** A SQL string literal with quotes escaped — every inline
    * VALUES/IN list built from fixture terms goes through this, so a
    * term carrying a single quote can neither break the statement nor
    * inject into it. */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The oracle shared by `sql_phrase_batch`, `doc_phrase_batch`. */
  private lazy val PhraseBatchOracleSql: String =
    phraseBatchOracleSql(PhraseBatchQueries)

  /** The oracle shared by `sql_bm25_batch`, `doc_bm25_batch`. */
  private lazy val Bm25BatchOracleSql: String =
    bm25BatchOracleSql(Bm25BatchQueries, topN = 10)

  /** The oracle shared by `sql_substring_batch`, `doc_substring_batch`. */
  private lazy val SubstringBatchOracleSql: String =
    substringBatchOracleSql(SubstringBatchQueries)

  /** The oracle shared by `sql_proximity_batch`, `doc_proximity_batch`. */
  private lazy val ProximityBatchOracleSql: String =
    proximityBatchOracleSql(ProximityBatchQueries)

  val declared: Seq[Declared] = Seq(
    // SQL-surface retrieval #1: BM25 over the PERSISTED bucketed
    // postings table as ONE spark.sql statement — the token IN filter
    // bucket-prunes the scan exactly like the API path's isin, the
    // corpus stats ride in as literals from the build sidecar, and the
    // scoring SQL mirrors TextAnalysis.bm25ScoreOcc's expression tree
    // term for term (same literals the DuckDB oracle quotes), so a
    // SQL-first user gets bit-identical rankings. Shares
    // doc_bm25_top20's oracle verbatim — the equivalence proof.
    declare("sql_bm25_topk")((s, dir) => {
      val key = dirKey(dir)
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", artifactDir("postings", dir), buckets = 8)
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
    })(
      // And the one-statement SQL surface over the same postings table.
      Bm25OracleSql),

    // SQL route for the BATCH BM25 probe (r14 VERDICT task 3): ONE
    // statement serving a whole query TABLE — the query terms are an
    // inline VALUES relation, the union of every query's terms
    // bucket-prunes a single posting probe (the same pruned occ scan
    // as sql_bm25_topk), per-token df is computed once (df is
    // query-independent), and per-query ranking is a window over the
    // (query, doc) score rows — bounded by the probed postings, never
    // corpus-sized. A SQL-first user doing N queries pays ONE probe,
    // not N statements. Shares doc_bm25_batch's oracle and fixture.
    declare("sql_bm25_batch")((s, dir) => {
      val key = dirKey(dir)
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", artifactDir("postings", dir), buckets = 8)
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
    })(
      // The one-statement SQL route shares the batch fixture and oracle —
      // same pruned-probe arithmetic, same per-query ranking.
      Bm25BatchOracleSql),

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
    declare("sql_phrase_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
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
    })(PhraseBatchOracleSql),

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
    declare("sql_substring_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", artifactDir("trigram", dir), buckets = 8)
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
    })(
      // The one-statement SQL batch routes share the API batch oracles
      // verbatim — the equivalence proof (r15 VERDICT task 3).
      SubstringBatchOracleSql),

    // SQL route for the BATCH PROXIMITY probe: ONE statement serving a
    // term-pair TABLE — the pairs ride an inline VALUES relation, the
    // union of every pair's terms bucket-prunes ONE positional probe,
    // and each pair's min token gap is a three-way join + GROUP BY over
    // that pruned frame (the API path's shape as SQL). Shares
    // doc_proximity_batch's positions-cross-product replay oracle.
    declare("sql_proximity_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
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
    })(
      // The one-statement SQL batch route shares the oracle verbatim.
      ProximityBatchOracleSql),

    // SQL-surface retrieval #2: exact phrase search over the persisted
    // positional index as ONE self-join statement — each leg's token
    // equality bucket-prunes to one bucket, the adjacency condition is
    // the textbook pos+1 intersection. Shares doc_phrase_search's
    // brute-force oracle.
    declare("sql_phrase_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      s.sql(
        s"""SELECT t0.doc_id AS doc_id, CAST(count(1) AS BIGINT) AS n_occurrences
           |FROM graft_pos_$key t0 JOIN graft_pos_$key t1
           |  ON t0.doc_id = t1.doc_id AND t1.pos = t0.pos + 1
           |WHERE t0.token = 'hash' AND t1.token = 'join'
           |GROUP BY t0.doc_id ORDER BY doc_id""".stripMargin)
    })(
      // The one-statement SQL self-join path: identical rows required.
      PhraseOracleSql),

    // SQL-surface retrieval #3: substring (LIKE '%needle%') search
    // through the trigram index as ONE statement — the AND-intersected
    // candidate CTE reads only the needle trigrams' buckets, broadcast
    // into the corpus scan for exact verification; occurrence count by
    // the same non-overlapping length arithmetic. Shares
    // doc_substring_search's brute-force oracle.
    declare("sql_substring_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", artifactDir("trigram", dir), buckets = 8)
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
    })(
      // The one-statement SQL path must reproduce the identical rows.
      SubstringOracleSql),

    // SQL-surface retrieval #4: proximity (within-k) search over the
    // persisted positional index as ONE self-join statement — both
    // term legs bucket-prune to one bucket each, the min token gap is
    // a plain GROUP BY. Shares doc_proximity_search's brute-force
    // positions-cross-product oracle.
    declare("sql_proximity_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      s.sql(
        s"""SELECT a.doc_id AS doc_id, CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
           |FROM graft_pos_$key a JOIN graft_pos_$key b ON a.doc_id = b.doc_id
           |WHERE a.token = 'vector' AND b.token = 'stream'
           |GROUP BY a.doc_id ORDER BY doc_id""".stripMargin)
    })(
      // The one-statement SQL self-join path: identical rows required.
      ProximityOracleSql),

    // Phrase rewrite: top-20 adjacent-bigram collocations by PMI
    // (bounded driver artifact), then a narrow greedy fold merges each
    // occurrence into a single token — the word2vec phrase pass; the
    // md5 makes the rewrite byte-checkable against the oracle.
    declare("doc_phrase_rewrite")((s, dir) => {
      // the phrase set is a persisted artifact (fingerprint sidecar,
      // build once / probe many): repeat rewrites pay the narrow fold
      // (~the corpus_split precedent), not the corpus-wide PMI derive
      val artDir = artifactDir("phrases", dir)
      TextAnalysis.ensurePhraseArtifact(s, docs(s, dir), artDir,
        minCount = 5L, topK = 20, broadcastUnigrams = true)
      TextAnalysis.phraseRewriteWithArtifact(s, docs(s, dir), artDir)
        .orderBy(col("doc_id"))
    })(
      // Phrase rewrite: the oracle re-derives the same top-20 adjacent
      // collocations (the doc_pmi_pairs arithmetic at window 1) and
      // replays the greedy fold via list_reduce keyed by the phrase set;
      // the md5 of the rewritten text must match byte-for-byte.
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
         |FROM rw ORDER BY doc_id""".stripMargin),

    // Hybrid sparse+dense retrieval with reciprocal-rank fusion: BM25
    // keyword candidates (corpus-scale stage, TakeOrdered), candidate
    // ids broadcast into the embedding scan (map-side semi — the
    // embedding table never shuffles), cosine rerank + integer-exact
    // RRF over the bounded candidate set.
    declare("doc_hybrid_rrf")((s, dir) => {
      graft.ops.VectorSearch.hybridRrfRetrieve(
        docs(s, dir), emb(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // Hybrid RRF: the BM25 candidate stage is the shared bm25Sql
      // builder at the wider cut; cosine uses the knn_cosine_top10
      // expression verbatim; both row_numbers cast BIGINT (Spark's is
      // INT); the fused score is integer micro-units on both sides.
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
         |FROM cr ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin),

    // BM25 retrieval: top-20 docs for a fixed query-term set. The
    // occurrence scan filters to the query terms before any shuffle,
    // df/length stats broadcast, TakeOrdered cuts the result; per-term
    // scores are micro-quantized so the per-doc integer sum is
    // aggregation-order-independent.
    declare("doc_bm25_top20")((s, dir) => {
      TextAnalysis.bm25TopDocs(docs(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // BM25: identical double ops in identical order, per-term micro
      // quantization, integer per-doc sum — Lucene idf variant
      Bm25OracleSql),

    // The same retrieval through the PERSISTED posting-list index
    // (build-once bucketed-by-token table, term-bucket-pruned probe) —
    // the text twin of the IVF build/probe split. Shares
    // doc_bm25_top20's oracle SQL verbatim: matching hashes prove the
    // indexed path equals the corpus-scan path.
    declare("doc_bm25_indexed")((s, dir) => {
      val key = dirKey(dir)
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", artifactDir("postings", dir), buckets = 8)
      graft.text.InvertedIndex.bm25Search(s, s"graft_post_$key", stats,
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // IDENTICAL SQL as doc_bm25_top20: the indexed path must produce
      // the same rows through the persisted posting lists — the matching
      // hash is the equivalence proof (decontaminate_bloom's device).
      Bm25OracleSql),

    // BATCHED BM25 — a whole query table served by ONE bucket-pruned
    // posting probe (the text-side twin of knn_hnsw_batch): three term
    // sets probe together, per-token df is computed once from the
    // union-probed occurrences, and each query's rows must equal its
    // single-query result bit-for-bit — the oracle replays every query
    // from scratch and unions them. At 100 TB this amortizes the probe
    // and df aggregation across the batch; per-query marginal cost is
    // a broadcast fan-out, not a scan.
    declare("doc_bm25_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", artifactDir("postings", dir), buckets = 8)
      graft.text.InvertedIndex.bm25SearchBatch(s, s"graft_post_$key",
        artifactDir("postings", dir), Bm25BatchQueries, topN = 10)
    })(
      // Every query of the batch replayed from scratch and unioned — a
      // matching hash proves the shared-probe batch path equals N
      // independent single-query probes bit-for-bit.
      Bm25BatchOracleSql),

    // BATCHED phrase search — N phrases served by ONE delta-aware
    // positional probe: the union of every phrase's terms bucket-prunes
    // a single postings read (materialized once, bounded by the probed
    // slice), and each phrase's adjacency intersection runs over that
    // frame. The oracle replays every phrase's token-slice definition
    // from scratch and unions them — a matching hash proves the shared
    // probe changes nothing.
    declare("doc_phrase_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      graft.text.InvertedIndex.phraseSearchBatch(s, s"graft_pos_$key",
        artifactDir("positional", dir), PhraseBatchQueries)
    })(
      // Per-phrase token-slice replays, unioned under their query ids.
      PhraseBatchOracleSql),

    // Exact PHRASE search over a persisted positional index (IIR §2.4):
    // the i-th term's postings shift to pos−i and occurrences survive
    // the k-way (doc, start) equi-join — each term's leg is one pruned
    // bucket read, the corpus is never rescanned. Brute-force
    // token-slice oracle proves the index path equals the definition.
    declare("doc_phrase_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      graft.text.InvertedIndex.phraseSearch(s, s"graft_pos_$key",
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    })(
      // Brute-force token-slice scan — deliberately NOT the index plan,
      // so the hash match proves the positional intersection correct.
      PhraseOracleSql),

    // Proximity search over the same positional index: exact min token
    // gap between 'vector' and 'stream' per doc — any within-k
    // operator is a post-filter on this. Per-doc cost tf_a x tf_b.
    declare("doc_proximity_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      graft.text.InvertedIndex.proximitySearch(s, s"graft_pos_$key",
          "vector", "stream")
        .orderBy(col("doc_id"))
    })(
      // Brute-force cross product of the two terms' positions per doc.
      ProximityOracleSql),

    // BATCHED proximity — N term pairs through ONE delta-aware
    // positional probe (the fourth retrieval-batch leg): the union of
    // every pair's terms prunes one postings read, each pair's min-gap
    // join runs over that frame. Per-pair replay oracle.
    declare("doc_proximity_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", artifactDir("positional", dir), buckets = 8)
      graft.text.InvertedIndex.proximitySearchBatch(s, s"graft_pos_$key",
        artifactDir("positional", dir), ProximityBatchQueries)
    })(
      // Per-pair positions-cross-product replays under their query ids.
      ProximityBatchOracleSql),

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
    declare("doc_substring_batch")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", artifactDir("trigram", dir), buckets = 8)
      graft.text.InvertedIndex.substringSearchBatch(s, s"graft_tri_$key",
        artifactDir("trigram", dir), docs(s, dir), SubstringBatchQueries)
    })(
      // Per-needle contains/replace-count replays under their query ids.
      SubstringBatchOracleSql),

    declare("doc_substring_search")((s, dir) => {
      val key = dirKey(dir)
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", artifactDir("trigram", dir), buckets = 8)
      graft.text.InvertedIndex.substringSearch(s, s"graft_tri_$key",
          docs(s, dir), needle = "merge batch")
        .orderBy(col("doc_id"))
    })(
      // Brute-force contains scan — deliberately NOT the index plan.
      // n_hits by the same exact length arithmetic (the diff is a
      // multiple of 11, so integer division is exact on both engines).
      SubstringOracleSql),

    // TF-IDF: top-3 terms per doc by quantized smoothed tf·idf.
    declare("doc_tfidf_top3")((s, dir) => {
      TextAnalysis.tfIdfTopTerms(docs(s, dir), topN = 3)
        .orderBy(col("doc_id"), col("rank"))
    })(
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
         |ORDER BY doc_id, rank""".stripMargin)
  )
}
