package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{VectorCrud, VectorStore}

import Fixtures._

/** Store lifecycle: vector CRUD, per-family deletes, takedown, describe,
  * GC retention, snapshot expiry, time travel, rollback and the writer
  * lease. */
object StoreQueries {
  private val declare = new Declared.Family("store")

  val declared: Seq[Declared] = Seq(
    // O3 get: point lookup by id (reference vectordb.cpp:54-59) — the
    // filter pushes to the parquet scan.
    declare("vec_get")((s, dir) => {
      VectorCrud.get(emb(s, dir), 42, idCol = "vec_id")
        .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
    })(
      "SELECT vec_id, label, len(embedding) AS dim FROM embeddings WHERE vec_id = 42"),

    // O5 delete: anti-filter by id (vectordb.cpp:74-80); checksum output.
    declare("vec_delete")((s, dir) => {
      VectorCrud.delete(emb(s, dir), 42, idCol = "vec_id")
        .agg(count(lit(1)).as("n_rows"), sum(col("vec_id")).as("id_sum"))
    })(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum
        |FROM embeddings WHERE vec_id <> 42""".stripMargin),

    // O2 add: append a row with id = max+1 (the reference's nextId
    // contract, vectordb.cpp:38-52); checksum output.
    declare("vec_add")((s, dir) => {
      val e = emb(s, dir)
      val newRow = e.agg((max(col("vec_id")) + 1).as("vec_id"))
        .withColumn("embedding", array_repeat(lit(0.0f), EmbDim))
        .withColumn("label", lit(-1))
      VectorCrud.add(e, newRow)
        .agg(count(lit(1)).as("n_rows"), max(col("vec_id")).as("max_id"))
    })(
      """WITH added AS (SELECT vec_id FROM embeddings
        |               UNION ALL SELECT max(vec_id) + 1 FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows, max(vec_id) AS max_id FROM added""".stripMargin),

    // O4 update: in-place replace by id via when/otherwise projection
    // (vectordb.cpp:61-72); window of ids around the change.
    declare("vec_update")((s, dir) => {
      val updated = VectorCrud.update(
        emb(s, dir), 42,
        Map("embedding" -> array_repeat(lit(1.0f), EmbDim)),
        idCol = "vec_id")
      updated
        .filter(col("vec_id").between(40, 44))
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("e0"))
        .orderBy(col("vec_id"))
    })(
      """SELECT vec_id,
        |       CASE WHEN vec_id = 42 THEN CAST(1.0 AS DOUBLE)
        |            ELSE CAST(embedding[1] AS DOUBLE) END AS e0
        |FROM embeddings WHERE vec_id BETWEEN 40 AND 44 ORDER BY vec_id""".stripMargin),

    // O1 init: create an empty fixed-dim database (vectordb.cpp:23-36),
    // reload it, report its observable state.
    declare("vec_init")((s, dir) => {
      val tmp = scratchDir("init", dir)
      VectorStore.init(s, s"$tmp/db.json", EmbDim)
      val reloaded = VectorStore.load(s, s"$tmp/db.json")
      import s.implicits._
      Seq((reloaded.getDimensions.toLong, reloaded.toDF.count()))
        .toDF("dim", "n_vectors")
    })(
      "SELECT CAST(64 AS BIGINT) AS dim, CAST(0 AS BIGINT) AS n_vectors"),

    // O10 getDimensions: schema introspection over the corpus
    // (vectordb.cpp:220-222).
    declare("vec_dims")((s, dir) => {
      emb(s, dir).agg(max(size(col("embedding"))).as("dim"))
    })(
      "SELECT CAST(max(len(embedding)) AS INTEGER) AS dim FROM embeddings"),

    // CROSS-STORE TAKEDOWN AUDIT — the GDPR driver: ONE victim row set
    // scrubs every text index in a loop over stores (deleteDocs is one
    // implementation for all three families), and the audit asserts
    // the honest residual — the doc's posting-row count over each
    // store's PROBED view (base ∪ deltas − tombstones) — is exactly
    // zero, with had_rows proving the doc was indexed before the
    // takedown. The verdict is constant, so the oracle pins it. Cost
    // per store: one batch-sized tombstone write, never an index scan.
    declare("takedown_all_stores")((s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val stores = Seq(
        ("bm25", s"graft_bm25del_$key", artifactDir("bm25del", dir)),
        ("positional", s"graft_posdel_$key", artifactDir("posdel", dir)),
        ("trigram", s"graft_tridel_$key", artifactDir("tridel", dir)))
      graft.text.InvertedIndex.ensure(s, corpus, stores(0)._2, stores(0)._3, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(s, corpus, stores(1)._2, stores(1)._3, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(s, corpus, stores(2)._2, stores(2)._3, buckets = 8)
      stores.foreach(st => // replay determinism
        graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(st._3)))
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
    })(
      // One takedown call must zero the victim's probed residual in every
      // store, and the doc must have been indexed beforehand.
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows, CAST(0 AS BIGINT) AS residual_rows
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY store""".stripMargin),

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
    declare("takedown_journal")((s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      // the shared per-sf text stores (content-hash ensure reuses the
      // build across invocations; the leading dropMutations reset is
      // the club's replay-determinism contract) — only the JOURNAL is
      // scratch-fresh per run
      val targets = Seq(
        graft.ops.Takedown.Target(
          "bm25", s"graft_bm25del_$key", artifactDir("bm25del", dir)),
        graft.ops.Takedown.Target(
          "positional", s"graft_posdel_$key", artifactDir("posdel", dir)),
        graft.ops.Takedown.Target(
          "trigram", s"graft_tridel_$key", artifactDir("tridel", dir)))
      graft.text.InvertedIndex.ensure(
        s, corpus, targets(0).table, targets(0).dir, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(
        s, corpus, targets(1).table, targets(1).dir, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(
        s, corpus, targets(2).table, targets(2).dir, buckets = 8)
      targets.foreach(t => // replay determinism
        graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(t.dir)))
      val scratch = scratchDir("tdjq", dir)
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
    })(
      // The journaled takedown's verdict is fully determined by the
      // scripted crash point: bm25 (target 1) scrubbed before the
      // injected crash, positional/trigram only by the resume; zero
      // residual everywhere afterwards, journal recovered.
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows,
        |       CAST(1 AS BIGINT) AS scrubbed_before_resume,
        |       CAST(0 AS BIGINT) AS residual_after_resume,
        |       CAST(1 AS BIGINT) AS journal_recovered
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |ORDER BY store""".stripMargin),

    // Vector-side DESCRIBE INDEX — the SQ8 store's introspection
    // surface after a scripted lifecycle (one append delta, one delete
    // batch): committed version, live mutation legs, and the
    // delta-aware live code count the next ADC probe will scan. The
    // oracle recomputes n_codes from the corpus definition.
    declare("sq8_store_describe")((s, dir) => {
      val corpus = emb(s, dir)
      val sqDir = artifactDir("sq8del", dir)
      graft.index.Sq.ensureCodesArtifact(corpus, sqDir)
      graft.io.MutableStore.dropMutations(graft.index.Sq.layoutOf(sqDir)) // replay determinism
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(5300000L)).as("vec_id"), col("embedding"))
      graft.index.Sq.appendDelta(s, sqDir, planted, tag = "a1")
      graft.index.Sq.deleteVectors(s, sqDir,
        corpus.filter(col("vec_id").isin(7L, 8L)), tag = "d1")
      graft.index.Sq.describeStore(s, sqDir).orderBy(col("metric"))
    })(
      // The SQ8 describe recomputed from the corpus definition: never
      // compacted, one delta (+5 planted), one tombstone (−2 deleted).
      """SELECT 'base_version' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'live_deltas', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'live_tombstones', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_codes',
        |  (SELECT CAST(count(*) + 3 AS BIGINT) FROM embeddings)
        |ORDER BY metric""".stripMargin),

    // STORE INTROSPECTION — the engine's DESCRIBE INDEX: after a
    // scripted mutation lifecycle (one append delta, one delete batch)
    // the describe row set must report the committed version, the live
    // mutation legs, and the MERGED delta-aware corpus stats — the
    // exact numbers the next BM25 probe scores with. The oracle
    // recomputes n_docs/sum_dl from the survivor corpus definition, so
    // a matching hash proves the introspection surface is wired to the
    // same arithmetic as the probes, not to file counts.
    declare("store_describe")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = artifactDir("descr", dir)
      val table = s"graft_descr_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(idxDir)) // replay determinism
      val planted = corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + lit(8600000L)).as("doc_id"), col("text"))
      graft.text.InvertedIndex.appendDelta(s, idxDir, planted, tag = "a1")
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(3L, 4L)), tag = "d1")
      graft.text.InvertedIndex.describeStore(s, idxDir).orderBy(col("metric"))
    })(
      // The describe surface recomputed from the survivor corpus: base
      // version 0 (never compacted), one live delta, one live tombstone,
      // and n_docs/sum_dl over (documents − {3,4}) ∪ the 5 planted docs.
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
         |ORDER BY metric""".stripMargin),

    // TAKEDOWN (GDPR / opt-out / contaminated-source) leg for the BM25
    // posting store — the reference treats delete as first-class (O5,
    // the reference's src/vectordb.cpp:74-80); this extends it to the
    // incremental text indexes. A delete batch is a tag-keyed
    // tombstone (batch-sized tokenize + two tiny writes — never an
    // index scan) recording the legs it covers; the delta-aware probe
    // masks each leg with only its covering tombstones, so the doc
    // re-appended UNDER A LATER TAG revives — the delete/append
    // ordering a global mask would get wrong. The oracle is a
    // from-scratch BM25 over documents minus the net-deleted docs, so
    // a matching hash proves deletion, revival ordering, and the
    // nDocs/sumDl stat decrements all exact.
    declare("doc_bm25_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = artifactDir("bm25del", dir)
      val table = s"graft_bm25del_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      // replay determinism: a re-run must not see the previous run's
      // re-append delta among the tombstone's covered legs
      graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(idxDir))
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(2L, 7L, 12L)), tag = "del")
      graft.text.InvertedIndex.appendDelta(s, idxDir,
        corpus.filter(col("doc_id") === 7L), tag = "re")
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    })(
      // From-scratch BM25 over documents minus the NET-deleted docs
      // (2 and 12 stay deleted; 7 was re-appended under a later tag and
      // must be revived with exact stats).
      bm25SqlOver(
        "(SELECT doc_id, text FROM documents WHERE doc_id NOT IN (2, 12))", 20)),

    // Takedown leg for the POSITIONAL index: the two lowest-id docs
    // containing the probe phrase are deleted, the second re-appended
    // under a later tag (revival), and the delta-aware phrase probe
    // must reproduce a from-scratch token-slice scan over documents
    // minus the net-deleted doc.
    declare("doc_phrase_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = artifactDir("posdel", dir)
      val table = s"graft_posdel_$key"
      graft.text.InvertedIndex.ensurePositional(s, corpus, table, idxDir, buckets = 8)
      graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(idxDir)) // replay determinism
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
    })(
      // From-scratch phrase scan over documents minus the net-deleted
      // doc (the LOWEST-id 'hash join' doc; the second was revived).
      phraseSqlOver(
        s"""(SELECT doc_id, text FROM documents
           | WHERE doc_id NOT IN (
           |   SELECT doc_id FROM documents
           |   WHERE contains($NormSql, 'hash join')
           |   ORDER BY doc_id LIMIT 1))""".stripMargin)),

    // Takedown leg for the TRIGRAM (substring) index — same shape; the
    // exact-verify stage runs over the post-delete corpus, so both the
    // candidate masking and the verification see the deletion.
    declare("doc_substring_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = artifactDir("tridel", dir)
      val table = s"graft_tridel_$key"
      graft.text.InvertedIndex.ensureTrigram(s, corpus, table, idxDir, buckets = 8)
      graft.io.MutableStore.dropMutations(graft.text.InvertedIndex.layoutOf(idxDir)) // replay determinism
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
    })(
      // From-scratch contains scan over documents minus the net-deleted
      // doc (the LOWEST-id 'merge batch' doc; the second was revived).
      substringSqlOver(
        s"""(SELECT doc_id, text FROM documents
           | WHERE doc_id NOT IN (
           |   SELECT doc_id FROM documents
           |   WHERE contains($NormSql, 'merge batch')
           |   ORDER BY doc_id LIMIT 1))""".stripMargin)),

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
    declare("dedup_store_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store = artifactDir("hashdel", dir)
      graft.dedup.Dedup.ensureHashStore(s, corpus, store)
      graft.io.MutableStore.dropMutations(graft.dedup.Dedup.flatOf(store)) // replay determinism
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
    })(
      // The takedown life cycle derived relationally: d1/d2 = the two
      // lowest-id unique-normalized-content docs; d1's re-crawl is novel
      // (its pair was tombstoned), d2's dedupes to its original owner,
      // and the second re-crawl of d1's content dedupes to the NEW owner
      // recorded by the first re-crawl.
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
         |ORDER BY doc_id""".stripMargin),

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
    declare("neardup_store_delete")((s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store = artifactDir("sheddel", dir)
      graft.dedup.Dedup.ensureShingleStore(
        s, corpus.filter(col("doc_id") % 3 === 0), store)
      graft.io.MutableStore.dropMutations(graft.dedup.Dedup.shingleOf(store)) // replay determinism
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
    })(
      // The shingle-store takedown life cycle relationally: probes of doc
      // 0's and doc 3's texts against the %3 store MINUS doc 0, then the
      // second re-crawl's verdict split on whether the first was novel
      // (matched nothing surviving) — if so it near-dups the re-added
      // copy at exact Jaccard 0.
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
         |ORDER BY doc_id""".stripMargin),

    // TAKEDOWN on the persisted FUZZY SIGNATURE store — the entity-
    // resolution leg of the derived-data scrub: customer 3's deletion-
    // neighborhood postings are tombstoned, and a resolve batch
    // carrying the EXACT names of customers 3 and 6 must fall through
    // to the best SURVIVING match for 3 (an ed-1 neighbor, relational
    // min over (dist, id)) while 6 keeps resolving exactly — with the
    // in-batch leg (earlier batch rows are candidates too) replayed by
    // the oracle verbatim.
    declare("fuzzy_store_delete")((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val store = artifactDir("fuzzdel", dir)
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), store, "c_custkey", "c_name")
      graft.io.MutableStore.dropMutations(graft.ops.FuzzyJoin.flatOf(store)) // replay determinism
      import s.implicits._
      graft.ops.FuzzyJoin.deleteFromFuzzyStore(s, store,
        Seq(3L).toDF("store_id"), tag = "del")
      val batch = cust.filter(col("c_custkey").isin(3L, 6L))
        .select((col("c_custkey") + lit(9500000L)).as("id"),
          col("c_name").as("name"))
      graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, store, batch,
          "id", "name", batchTag = Some("re"))
        .orderBy(col("id"))
    })(
      // Brute-force replay of the masked resolve: store legs = %3
      // registry minus the tombstoned 3; in-batch legs = earlier batch
      // rows; best = min (dist, mid) per probe.
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
        |FROM b x LEFT JOIN best b2 ON x.id = b2.id ORDER BY id""".stripMargin),

    // TAKEDOWN on the perceptual SIGNATURE store (the media leg of the
    // derived-data scrub, exercised over the embedding midrange
    // signatures so the oracle shares the hammingSigCtes machinery):
    // the store holds the %3 corpus signatures, the self signature
    // (s_id 0) is tombstoned, and a re-ingest of vec 0's signature
    // must match only the SURVIVING nearest (min (hamming, id) within
    // ≤ 3) or report novel — the oracle replays the masked ranking.
    declare("sigstore_delete")((s, dir) => {
      val e = emb(s, dir)
      val artDir = artifactDir("binsig", dir)
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val sigs = graft.index.Binary.signatures(e, thr)
      val store = artifactDir("sigdel", dir)
      graft.dedup.Dedup.ensureSigStore(s,
        sigs.filter(col("vec_id") % 3 === 0), store, idCol = "vec_id")
      graft.io.MutableStore.dropMutations(graft.dedup.Dedup.flatOf(store)) // replay determinism
      import s.implicits._
      graft.dedup.Dedup.deleteFromSigStore(s, store,
        Seq(0L).toDF("s_id"), tag = "del")
      val batch = sigs.filter(col("vec_id") === 0)
        .select((col("vec_id") + lit(9600000L)).as("vec_id"), col("sig"))
      graft.dedup.Dedup.incrementalSigDedupBatch(s, store, batch,
        batchTag = "re", maxHamming = 3, idCol = "vec_id")
    })(
      // The masked signature ranking relationally: %3 store minus the
      // tombstoned s_id 0, min (hamming, id) within <= 3 or novel.
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
         |       (SELECT hm FROM best) AS hamming""".stripMargin),

    // The GC RETENTION knob (r15 VERDICT task 2) as a declared query:
    // under retention=2 a pinned store view survives TWO interleaved
    // compaction commits and is collected exactly at the third; under
    // the default retention=1 the same interleaving loses the pinned
    // snapshot's files (the documented historical bound). Runs the
    // full lifecycle on two scratch fuzzy stores.
    declare("store_gc_retention")((s, dir) => {
      import s.implicits._
      val scratch = scratchDir("retq", dir)
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
    })(
      // Retention-knob invariants hold by the GC protocol itself, so the
      // expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS r2_pinned_survives_two_commits,
        |       CAST(1 AS BIGINT) AS r2_collected_at_third,
        |       CAST(1 AS BIGINT) AS r2_fresh_serves_new,
        |       CAST(1 AS BIGINT) AS r1_bound_documented""".stripMargin),

    // STANDALONE SNAPSHOT EXPIRY (r16 VERDICT task 2) as a declared
    // query: lagged GC runs only at the next compaction's start, so a
    // QUIESCENT store retains superseded versions forever — until the
    // explicit, lease-holding expireSnapshots maintenance op applies
    // the retention policy on demand. Proven on a scratch fuzzy store:
    // a prior within retention survives the op (and a view pinned on
    // it still serves), tightening the policy then reclaims the
    // superseded base WITHOUT a content commit (version pointer
    // unmoved), and the op is idempotent.
    declare("store_expire_snapshots")((s, dir) => {
      import s.implicits._
      val scratch = scratchDir("expq", dir)
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
          graft.io.MutableStore.expire(graft.ops.FuzzyJoin.flatOf(d)) // policy: keep 2
          val protSurvives = java.nio.file.Files.exists(base1)
          val pinnedServes = ids(pinned) == wantV1
          graft.io.MutableStore.setGcRetention(d, None) // default 1
          val n = graft.io.MutableStore.expire(graft.ops.FuzzyJoin.flatOf(d))
          val reclaimed = n >= 1 && !java.nio.file.Files.exists(base1)
          val st = graft.io.MutableStore.state(d)
          val vUnmoved = st.v == 2 && st.priors.isEmpty
          val freshOk =
            ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 + 60L
          val idem = graft.io.MutableStore.expire(graft.ops.FuzzyJoin.flatOf(d)) == 0
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
    })(
      """SELECT CAST(1 AS BIGINT) AS retained_until_expiry,
        |       CAST(1 AS BIGINT) AS protected_prior_survives,
        |       CAST(1 AS BIGINT) AS pinned_within_retention_serves,
        |       CAST(1 AS BIGINT) AS reclaimed_on_demand,
        |       CAST(1 AS BIGINT) AS no_content_commit,
        |       CAST(1 AS BIGINT) AS fresh_serves_new,
        |       CAST(1 AS BIGINT) AS idempotent""".stripMargin),

    // TIME-TRAVEL reads (r16 VERDICT task 4) as a declared query: a
    // three-version scratch fuzzy store (two compaction commits under
    // retention=2, then an uncompacted live leg) replayed AS OF every
    // retained version. Each prior replays its RETIREMENT state — base
    // version + the delta legs live at the superseding commit — and
    // the current version is the live view; the oracle pins the exact
    // (version, store_id) relation.
    declare("store_time_travel")((s, dir) => {
      import s.implicits._
      val scratch = scratchDir("ttq", dir)
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
    })(
      // The three-version time-travel relation is fully determined by
      // the scripted lifecycle: v0 retired = seed 1..9 + the a1 leg
      // (50), v1 retired = + the a2 leg (60), current v2 live view = +
      // the uncompacted leg (70).
      """SELECT version, CAST(store_id AS BIGINT) AS store_id FROM (
        |  SELECT 0 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50)) t0(store_id)
        |  UNION ALL
        |  SELECT 1 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60)) t1(store_id)
        |  UNION ALL
        |  SELECT 2 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60),(70)) t2(store_id)
        |) ORDER BY version, store_id""".stripMargin),

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
    declare("store_snapshot_rollback")((s, dir) => {
      import s.implicits._
      val scratch = scratchDir("tagq", dir)
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
      graft.io.MutableStore.tagSnapshot(graft.ops.FuzzyJoin.flatOf(d), "golden") // names v1
      // two commits under default retention=1 would collect v1; the
      // tag keeps it readable BY NAME
      commit(60L, "a2"); commit(61L, "a3") // → v3
      val tagProtects = baseV1
      val tagView =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // ROLLBACK to the tag; then ROLL-FORWARD (the from-version is a
      // retained prior)
      val from = graft.io.MutableStore.rollbackToTag(graft.ops.FuzzyJoin.flatOf(d), "golden")
      val rollbackRestores = from == 3 &&
        graft.io.MutableStore.state(d).v == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1
      val rollForward = graft.io.MutableStore.rollbackTo(graft.ops.FuzzyJoin.flatOf(d), 3) == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 ++ Set(60L, 61L)
      // a compaction after the rollback dance: never-reuse allocation
      // skips every on-disk version; the tagged snapshot still serves
      commit(62L, "a4")
      val neverReuse = graft.io.MutableStore.state(d).v == 4
      val tagSurvivesFold =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // dropping the tag hands the snapshot back to the policy: the
      // standalone expiry collects it and revokes the read
      graft.io.MutableStore.dropTag(graft.ops.FuzzyJoin.flatOf(d), "golden")
      val expired = graft.io.MutableStore.expire(graft.ops.FuzzyJoin.flatOf(d))
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
    })(
      // Snapshot-expiry invariants hold by the maintenance-op protocol
      // itself, so the expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS tag_protects_default_policy,
        |       CAST(1 AS BIGINT) AS time_travel_by_tag,
        |       CAST(1 AS BIGINT) AS rollback_restores,
        |       CAST(1 AS BIGINT) AS roll_forward,
        |       CAST(1 AS BIGINT) AS never_reuse_allocation,
        |       CAST(1 AS BIGINT) AS tag_survives_fold,
        |       CAST(1 AS BIGINT) AS drop_tag_revokes,
        |       CAST(1 AS BIGINT) AS fresh_serves_new""".stripMargin),

    // The WRITER LEASE (r15 VERDICT task 5) as a declared query: the
    // single-writer contract is ENFORCED — a commit primitive outside
    // a lease is rejected loudly, a second interleaved writer is
    // rejected naming the holder, a crashed writer's stale lock is
    // stolen after the TTL, and the post-steal commit lands.
    declare("store_writer_lease")((s, dir) => {
      import s.implicits._
      val scratch = scratchDir("leaseq", dir)
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
    })(
      // Writer-lease invariants hold by the lock protocol itself, so the
      // expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS commit_outside_lease_rejected,
        |       CAST(1 AS BIGINT) AS second_writer_rejected,
        |       CAST(1 AS BIGINT) AS expired_lease_stolen,
        |       CAST(1 AS BIGINT) AS post_steal_commit_lands,
        |       CAST(1 AS BIGINT) AS stalled_commit_fenced,
        |       CAST(1 AS BIGINT) AS stalled_release_fenced,
        |       CAST(1 AS BIGINT) AS stealer_state_survives""".stripMargin)
  )
}
