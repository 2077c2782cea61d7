package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.text.InvertedIndex
import graft.index.Sq
import graft.ops.VectorSearch
import graft.io.MutableStore

/** CDC MUTATION streams — one feed carrying both appends and takedowns
  * (op ∈ {add, del}) applied per micro-batch to the incremental
  * stores: lifecycle correctness (delete, revive, same-batch upsert,
  * compaction-time physical drop + tombstone consumption), the
  * adds-win-within-a-batch rule, and redelivery idempotence of the
  * paired tombstone+delta tag writes. */
class StreamMutationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val corpusRows: Seq[(Long, String)] = Seq(
    (0L, "spark joins merge windows for streams"),
    (1L, "the merge of spark windows and joins"),
    (2L, "postings merge under spark"),
    (3L, "windows stream past the join"),
    (4L, "a quiet document about nothing relevant"),
    (5L, "merge merge merge says the spark join"),
    (6L, "hash join under a window of spark"),
    (7L, "the last spark document mentions merge"))

  private def corpus = corpusRows.toDF("doc_id", "text")

  private var n = 0
  private def scratch(name: String): String = {
    n += 1
    val d = java.nio.file.Files.createTempDirectory(s"$name$n")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def probe(table: String, dir: String): Seq[(Long, Long)] =
    InvertedIndex.bm25SearchDeltaAware(spark, table, dir,
        terms = Seq("spark", "merge", "join"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("bm25_micro"))
      .as[(Long, Long)].collect().toSeq

  private def freshOver(df: DataFrame): Seq[(Long, Long)] = {
    val root = scratch("iimutfresh")
    val t2 = s"iimutfresh_tbl_${n}_${System.nanoTime()}"
    val stats = InvertedIndex.ensure(spark, df, t2, s"$root/postings", buckets = 4)
    InvertedIndex.bm25Search(spark, t2, stats, Seq("spark", "merge", "join"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("bm25_micro"))
      .as[(Long, Long)].collect().toSeq
  }

  /** Write each batch as ONE file so maxFilesPerTrigger=1 replays the
    * exact micro-batch sequence. */
  private def writeBatches(inDir: String, batches: Seq[DataFrame]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append").parquet(inDir)
    }

  private def opDf(o: String)(df: DataFrame): DataFrame =
    df.select((lit(o).as("op") +: df.columns.map(col).toIndexedSeq): _*)

  test("BM25 CDC lifecycle: delete, revive, compaction-time physical drop + consumption") {
    val root = scratch("iimut")
    val table = s"iimut_tbl_${n}_${System.nanoTime()}"
    val dir = s"$root/postings"
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    val p = Seq(
      (100L, "streamed spark document about a merge"),
      (101L, "another streamed join under spark"),
      (102L, "final streamed merge window")).toDF("doc_id", "text")
    val batches = Seq(
      opDf("add")(p.filter(col("doc_id") < 102L)),               // b0
      opDf("del")(corpus.filter(col("doc_id").isin(4L, 5L)))     // b1: two base +
        .unionAll(opDf("del")(p.filter(col("doc_id") === 100L))), //     one delta doc
      opDf("add")(corpus.filter(col("doc_id") === 5L)),          // b2: revival
      opDf("add")(p.filter(col("doc_id") === 102L)))             // b3: trips compaction
    val inDir = s"$root/in"
    writeBatches(inDir, batches)
    val stream = spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingIngest.streamingPostingsMutations(
      stream, table, dir, s"$root/chk", buckets = 4, maxDeltaDirs = 2)
    q.awaitTermination()

    // survivors: base − {4} (5 revived), planted − {100}
    val survivors = corpus.filter(col("doc_id") =!= 4L)
      .unionAll(p.filter(col("doc_id") =!= 100L))
    assert(probe(table, dir) == freshOver(survivors),
      "CDC probe must equal a fresh build over the survivors")
    // b3's processing compacted b0+b2 and CONSUMED the tombstone:
    // deleted rows physically gone from the folded base
    assert(spark.table(table).filter(col("doc_id").isin(4L, 100L)).count() == 0L,
      "compaction during the mutation stream must physically drop tombstoned rows")
    assert(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)) == Seq(MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).head)
      && MutableStore.deltaTags(InvertedIndex.layoutOf(dir)).head.endsWith("_b3"),
      "only the final batch's delta should remain live")
    assert(q.recentProgress.forall(_.stateOperators.isEmpty),
      "foreachBatch mutations must carry no state-store state")
  }

  test("same-batch del+add of one doc_id is an UPSERT: the add wins") {
    val root = scratch("iiup")
    val table = s"iiup_tbl_${n}_${System.nanoTime()}"
    val dir = s"$root/postings"
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    val updated = Seq((2L, "rewritten spark join text entirely new"))
      .toDF("doc_id", "text")
    val batch = opDf("del")(corpus.filter(col("doc_id") === 2L))
      .unionAll(opDf("add")(updated))
    val inDir = s"$root/in"
    writeBatches(inDir, Seq(batch))
    val q = StreamingIngest.streamingPostingsMutations(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      table, dir, s"$root/chk", buckets = 4)
    q.awaitTermination()
    val want = freshOver(corpus.filter(col("doc_id") =!= 2L).unionAll(updated))
    assert(probe(table, dir) == want,
      "a same-batch delete+add must leave the NEW text live (adds win)")
  }

  test("redelivery: re-applying a mutation batch under its tag is idempotent") {
    val root = scratch("iire")
    val table = s"iire_tbl_${n}_${System.nanoTime()}"
    val dir = s"$root/postings"
    InvertedIndex.ensure(spark, corpus, table, dir, buckets = 4)
    val adds = Seq((200L, "redelivered spark merge doc")).toDF("doc_id", "text")
    val dels = corpus.filter(col("doc_id") === 3L)
    def applyBatch(): Unit = {
      // the foreachBatch body's exact mutation pair, same tag both runs
      InvertedIndex.deleteDocs(spark, dir, dels, tag = "t_b0",
        excludeCovered = Set("t_b0"))
      InvertedIndex.appendDelta(spark, dir, adds, tag = "t_b0")
    }
    applyBatch()
    val want = probe(table, dir)
    assert(want == freshOver(corpus.filter(col("doc_id") =!= 3L).unionAll(adds)))
    applyBatch() // at-least-once redelivery
    assert(probe(table, dir) == want,
      "a redelivered batch must rewrite its tombstone+delta, never double-apply")
    // the tombstone must NOT cover the batch's own delta even though
    // that delta existed on disk when the rerun's deleteDocs executed
    assert(probe(table, dir).exists(_._1 == 200L),
      "redelivery must not mask the batch's own appends")
  }

  test("positional CDC: same-batch update, delete, revive — phrase probe exact") {
    val root = scratch("posmut")
    val table = s"posmut_tbl_${n}_${System.nanoTime()}"
    val dir = s"$root/positional"
    InvertedIndex.ensurePositional(spark, corpus, table, dir, buckets = 4)
    // doc 6 is the only 'hash join' doc; CDC: delete it, then a later
    // batch re-adds it, and a third batch adds a NEW 'hash join' doc
    val batches = Seq(
      opDf("del")(corpus.filter(col("doc_id") === 6L)),
      opDf("add")(corpus.filter(col("doc_id") === 6L)),
      opDf("add")(Seq((300L, "another hash join arrives")).toDF("doc_id", "text")))
    val inDir = s"$root/in"
    writeBatches(inDir, batches)
    val q = StreamingIngest.streamingPositionalMutations(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      table, dir, s"$root/chk", buckets = 4, maxDeltaDirs = 2)
    q.awaitTermination()
    val got = InvertedIndex.phraseSearchDeltaAware(spark, table, dir,
        Seq("hash", "join"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((6L, 1L), (300L, 1L)),
      s"revived doc 6 and streamed doc 300 must both phrase-match, got $got")
  }

  test("trigram CDC: delete removes the only needle doc; a later add restores matches") {
    val root = scratch("trimut")
    val table = s"trimut_tbl_${n}_${System.nanoTime()}"
    val dir = s"$root/trigram"
    InvertedIndex.ensureTrigram(spark, corpus, table, dir, buckets = 4)
    val batches = Seq(
      opDf("del")(corpus.filter(col("doc_id") === 5L)), // only 'merge merge' doc
      opDf("add")(Seq((400L, "the merge merge pattern returns")).toDF("doc_id", "text")))
    val inDir = s"$root/in"
    writeBatches(inDir, batches)
    val q = StreamingIngest.streamingTrigramMutations(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      table, dir, s"$root/chk", buckets = 4)
    q.awaitTermination()
    val live = corpus.filter(col("doc_id") =!= 5L)
      .unionAll(Seq((400L, "the merge merge pattern returns")).toDF("doc_id", "text"))
    val got = InvertedIndex.substringSearchDeltaAware(spark, table, dir,
        live, "merge merge")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got.map(_._1) == Seq(400L),
      s"only the streamed doc may substring-match after the takedown, got $got")
  }

  private val dim = 8
  private lazy val vecCorpus = {
    val rng = new scala.util.Random(91)
    (0L until 200L).map(i => (i, Array.fill(dim)(rng.nextFloat() * 4f - 2f)))
      .toDF("vec_id", "embedding").localCheckpoint()
  }

  /** A global-mask family under test: its CDC sink over a layout at
    * `dir` (built from `corpus`), and a probe of that layout. */
  private case class GlobalMaskFamily(
      name: String,
      build: (DataFrame, String) => Unit,
      sink: (DataFrame, String, String) => org.apache.spark.sql.streaming.StreamingQuery,
      probe: (String, Array[Float]) => Set[Long],
      nearSurvivors: Set[Long])

  private val hnswParams = graft.index.Hnsw.Params(parts = 1)

  private val globalMaskFamilies = Seq(
    GlobalMaskFamily("IVF",
      (corpus, dir) => graft.index.Ivf.buildLayout(spark, corpus, dir, nlist = 2, maxIter = 5),
      (stream, dir, chk) => StreamingIngest.streamingIvfMutations(stream, dir, chk),
      (dir, q) => graft.index.Ivf.searchLayoutDeltaAware(
          spark, graft.index.Ivf.loadLayout(dir), q, k = 6, nprobe = 1)
        .select("vec_id").as[Long].collect().toSet,
      // nprobe = 1: the near cluster's survivors only
      Set(1L, 2L)),
    GlobalMaskFamily("HNSW",
      (corpus, dir) => graft.index.Hnsw.ensureLayout(corpus, dir, hnswParams),
      (stream, dir, chk) => StreamingIngest.streamingHnswMutations(stream, dir, chk, hnswParams),
      (dir, q) => graft.index.Hnsw.searchLayoutDeltaAware(spark, dir, q, k = 3, hnswParams)
        .select("vec_id").as[Long].collect().toSet,
      // k = 3: the near cluster's two survivors, then the far cluster's closest
      Set(1L, 2L, 4L)))

  globalMaskFamilies.foreach { fam =>
    test(s"${fam.name} CDC (global mask): same-batch add+del nets out; delete of a streamed row; re-add fails loud") {
      val root = scratch(s"${fam.name.toLowerCase}cdc")
      val corpus2 = Seq(
        (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.2f, 0.2f)),
        (4L, Seq(10.0f, 10.1f)), (5L, Seq(10.1f, 10.0f)), (6L, Seq(10.2f, 10.2f))
      ).toDF("vec_id", "embedding")
      val layoutDir = s"$root/layout"
      fam.build(corpus2, layoutDir)
      def op(o: String)(rows: (Long, Seq[Float])*): DataFrame =
        rows.toDF("vec_id", "embedding")
          .select(lit(o).as("op"), col("vec_id"), col("embedding"))
      // rows with a null vec_id cannot be addressed by id: dropped
      def nullKey(o: String): DataFrame =
        Seq((o, Option.empty[Long], Seq(0.07f, 0.07f))).toDF("op", "vec_id", "embedding")
      // b0: add 101 and 102; same batch also deletes 102 (nets out) and
      //     deletes base id 3; one null-key add and one null-key delete
      val b0 = op("add")((101L, Seq(0.05f, 0.05f)), (102L, Seq(0.06f, 0.04f)))
        .unionAll(op("del")((102L, Seq(0.06f, 0.04f)), (3L, Seq(0.2f, 0.2f))))
        .unionAll(nullKey("add")).unionAll(nullKey("del"))
      // b1: delete the JUST-STREAMED 101
      val b1 = op("del")((101L, Seq(0.05f, 0.05f)))
      val inDir = s"$root/in"
      writeBatches(inDir, Seq(b0, b1))
      val q = fam.sink(spark.readStream.schema(b0.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        layoutDir, s"$root/chk")
      q.awaitTermination()
      val got = fam.probe(layoutDir, Array(0.0f, 0.0f))
      assert(got == fam.nearSurvivors,
        s"the probe must see exactly the survivors ${fam.nearSurvivors}, got $got")
      // re-adding the earlier-deleted 101 must fail LOUD mid-stream
      val b2 = op("add")((101L, Seq(0.05f, 0.05f)))
      writeBatches(s"$root/in2", Seq(b2))
      val q2 = fam.sink(spark.readStream.schema(b2.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$root/in2"),
        layoutDir, s"$root/chk2")
      val e = intercept[Exception] { q2.awaitTermination() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("tombstoned")),
        s"the append guard must surface through the stream, got: ${messages(e)}")
    }
  }

  test("SQ8 CDC lifecycle: delete, revive, compaction under the untouched quantizer") {
    val root = scratch("sqmut")
    val dir = s"$root/sq8"
    Sq.ensureCodesArtifact(vecCorpus, dir)
    val query = vecCorpus.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val delIds = VectorSearch.knnExact(vecCorpus, query.toSeq, 4)
      .select("vec_id").as[Long].collect().filter(_ != 3L).take(3).toIndexedSeq
    val planted = vecCorpus.filter(col("vec_id") === 3L)
      .crossJoin(spark.range(3))
      .select((col("id") + lit(9000L)).as("vec_id"), col("embedding"))
    val base2 = vecCorpus.select(col("vec_id"), col("embedding"))
    val batches = Seq(
      opDf("add")(planted.filter(col("vec_id") < 9002L)),
      opDf("del")(base2.filter(col("vec_id").isin(delIds: _*)))
        .unionAll(opDf("del")(planted.filter(col("vec_id") === 9000L))),
      opDf("add")(base2.filter(col("vec_id") === delIds.head)), // revival
      opDf("add")(planted.filter(col("vec_id") === 9002L)))     // trips compaction
    val inDir = s"$root/in"
    writeBatches(inDir, batches)
    val q = StreamingIngest.streamingSq8Mutations(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      dir, s"$root/chk", maxDeltaDirs = 2)
    q.awaitTermination()

    val live = base2.filter(!col("vec_id").isin(delIds.tail: _*))
      .unionAll(planted.filter(col("vec_id") =!= 9000L))
    val m = Sq.modelFromArtifact(spark, dir)
    val got = Sq.searchRerank(Sq.codesWithDeltas(spark, dir), live, m, query,
        k = 6, shortlist = 80)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = VectorSearch.knnExact(live, query.toSeq, 6)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(got == want,
      s"CDC SQ8 rerank must equal exact over survivors\ngot  $got\nwant $want")
    // compaction happened during the stream: versioned swap committed
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/codes_v1")),
      "the final batch must have triggered the versioned compaction")
    assert(MutableStore.deltaTags(Sq.layoutOf(dir)).size == 1,
      "only the final batch's delta should remain live")
  }

  // ------------------------------------------- derived-store CDC legs

  test("dedup hash-store CDC: same-batch takedown+re-crawl is an UPSERT — the add wins and owns the content") {
    val root = scratch("hashmut")
    val store = s"$root/store"
    graft.dedup.Dedup.ensureHashStore(spark, corpus, store)
    val reText = corpusRows(2)._2
    val batch = opDf("del")(corpus.filter(col("doc_id") === 2L))
      .unionAll(opDf("add")(Seq((902L, reText)).toDF("doc_id", "text")))
    val inDir = s"$root/in"
    writeBatches(inDir, Seq(batch))
    val q = StreamingIngest.streamingDedupMutations(
      spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      store, s"$root/sink", s"$root/chk")
    q.awaitTermination()
    val verdicts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/sink")
      .select("doc_id", "is_new", "dup_of")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(verdicts == Seq((902L, 1L, None)),
      "the same-batch re-crawl must report NOVEL (adds win over the takedown)")
    // the content's new owner serves later probes
    val v2 = graft.dedup.Dedup.newAgainstStore(spark, store,
        Seq((903L, reText)).toDF("doc_id", "text"))
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(v2 == Seq((903L, 0L, Some(902L))),
      "a later re-crawl must dedupe to the new owner")
  }

  test("dedup hash-store CDC redelivery: the tombstone+delta pair rewrites idempotently") {
    val root = scratch("hashre")
    val store = s"$root/store"
    graft.dedup.Dedup.ensureHashStore(spark, corpus, store)
    val dels = corpus.filter(col("doc_id") === 2L)
    val adds = Seq((902L, corpusRows(2)._2)).toDF("doc_id", "text")
    def applyBatch(): Seq[(Long, Long, Option[Long])] = {
      // the foreachBatch body's exact mutation pair, same tag both runs
      graft.dedup.Dedup.deleteFromHashStore(spark, store, dels, tag = "t_b0",
        excludeCovered = Set("t_b0"))
      graft.dedup.Dedup.incrementalDedupBatch(spark, store, adds,
          batchTag = Some("t_b0"))
        .as[(Long, Long, Option[Long])].collect().toSeq
    }
    val first = applyBatch()
    assert(first == Seq((902L, 1L, None)))
    assert(applyBatch() == first,
      "a redelivered batch must rewrite its tombstone+delta, never " +
        "double-apply or mask its own append")
    val v2 = graft.dedup.Dedup.newAgainstStore(spark, store,
        Seq((903L, corpusRows(2)._2)).toDF("doc_id", "text"))
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(v2 == Seq((903L, 0L, Some(902L))))
  }

  test("fuzzy-store CDC: same-batch takedown+novel neighbor is an upsert; later resolves hit the new owner") {
    val root = scratch("fuzzmut")
    val store = s"$root/store"
    val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
    graft.ops.FuzzyJoin.ensureFuzzyStore(spark, registry, store, "id", "name")
    val b0 = Seq(("del", 3L, "name-0003"), ("add", 930L, "name-0003X"))
      .toDF("op", "id", "name")
    val b1 = Seq(("add", 931L, "name-0003X")).toDF("op", "id", "name")
    val inDir = s"$root/in"
    writeBatches(inDir, Seq(b0, b1))
    val q = StreamingIngest.streamingFuzzyMutations(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      store, s"$root/sink", s"$root/chk", idCol = "id", nameCol = "name")
    q.awaitTermination()
    val verdicts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/sink")
      .select("id", "is_new", "dup_of", "dist")
      .as[(Long, Boolean, Option[Long], Option[Int])].collect().toSeq
      .sortBy(_._1)
    assert(verdicts == Seq(
      (930L, true, None, None),        // the masked 3 can't match; X pushes others to ed 2
      (931L, false, Some(930L), Some(0))), // the new owner resolves later batches
      s"got $verdicts")
  }

  test("neardup shingle-store CDC: same-batch takedown+re-crawl; later probe near-dups the re-added copy") {
    val root = scratch("shedmut")
    val store = s"$root/store"
    graft.dedup.Dedup.ensureShingleStore(spark, corpus, store)
    val text0 = corpusRows.head._2
    val b0 = opDf("del")(corpus.filter(col("doc_id") === 0L).select("doc_id"))
      .withColumn("text", lit(text0))
      .select("op", "doc_id", "text")
      .unionAll(Seq(("add", 900L, text0)).toDF("op", "doc_id", "text"))
    val b1 = Seq(("add", 901L, text0)).toDF("op", "doc_id", "text")
    val inDir = s"$root/in"
    writeBatches(inDir, Seq(b0, b1))
    val q = StreamingIngest.streamingNearDupMutations(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir),
      store, s"$root/sink", s"$root/chk")
    q.awaitTermination()
    val verdicts = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/sink")
      .select("doc_id", "is_novel", "near_dup_of")
      .as[(Long, Long, Option[Long])].collect().toSeq
      .sortBy(_._1)
    assert(verdicts == Seq(
      (900L, 1L, None),         // the only Jaccard-0.5 neighbor was masked
      (901L, 0L, Some(900L))),  // the re-added copy owns the text now
      s"got $verdicts")
  }
}
