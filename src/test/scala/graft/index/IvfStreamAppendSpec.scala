package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.StreamingIngest
import graft.io.MutableStore

/** Streaming IVF append — the embedding leg of the incremental crawl
  * triple: batch-keyed delta appends ([[Ivf.appendDelta]]) through
  * [[StreamingIngest.streamingIvfAppend]], delta-aware search, retry
  * idempotency of the `delta_<tag>` protocol, and the tombstone
  * interplay (deleting a delta-appended vector). */
class IvfStreamAppendSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Tiny 2-cluster corpus: ids 1–3 near (0,0), ids 4–6 near (10,10). */
  private def corpus = Seq(
    (1L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.2f, 0.2f)),
    (4L, Seq(10.0f, 10.1f)), (5L, Seq(10.1f, 10.0f)), (6L, Seq(10.2f, 10.2f))
  ).toDF("vec_id", "embedding")

  private def freshLayout(tag: String): Ivf.Layout = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    Ivf.buildLayout(spark, corpus, s"$dir/layout", nlist = 2, maxIter = 5)
  }

  test("two-run streaming append: both runs' vectors searchable, zero executor state") {
    implicit val sc = spark.sqlContext
    val layout = freshLayout("ivfstream")
    val scratch = java.nio.file.Files.createTempDirectory("ivfstream_s").toString

    val input1 = MemoryStream[(Long, Seq[Float])]
    input1.addData((101L, Seq(0.05f, 0.05f)))
    val q1 = StreamingIngest.streamingIvfAppend(
      input1.toDF().toDF("vec_id", "embedding"), layout.dir, s"$scratch/chk1")
    q1.awaitTermination()

    // a SECOND run (fresh checkpoint lineage = a later crawl leg):
    // its vector must be searchable alongside run 1's
    val input2 = MemoryStream[(Long, Seq[Float])]
    input2.addData((102L, Seq(0.06f, 0.04f)))
    val q2 = StreamingIngest.streamingIvfAppend(
      input2.toDF().toDF("vec_id", "embedding"), layout.dir, s"$scratch/chk2")
    q2.awaitTermination()

    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(101L) && got.contains(102L),
      s"both streamed vectors must be searchable, got $got")
    assert((got -- Set(101L, 102L)).subsetOf(Set(1L, 2L, 3L)),
      "probe must stay within the queried cluster's corpus")
    assert(q2.recentProgress.forall(_.stateOperators.isEmpty),
      "foreachBatch IVF append must carry no state-store state")
  }

  test("batch probe is delta-aware: streamed appends and their tombstones visible without a compaction") {
    val layout = freshLayout("ivfbatchdelta")
    Ivf.appendDelta(layout,
      Seq((301L, Seq(0.05f, 0.05f)), (302L, Seq(10.05f, 10.05f)))
        .toDF("vec_id", "embedding"), "t_b0")
    Ivf.deleteFromLayout(layout, Seq(2L).toDF("vec_id"))
    val queries = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f))).toDF("query_id", "q_embedding")
    val got = Ivf.searchLayoutBatch(spark, layout, queries, k = 4, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSeq
    val q0 = got.filter(_._1 == 0L).map(_._2).toSet
    val q1 = got.filter(_._1 == 1L).map(_._2).toSet
    assert(q0.contains(301L) && q1.contains(302L),
      s"delta-appended vectors must be batch-probeable, got q0=$q0 q1=$q1")
    assert(!q0.contains(2L), "tombstoned id must be excluded from the batch probe")
    // equality with the delta-aware single-query probe, per query
    val singles = Seq(
      0L -> Array(0.0f, 0.0f), 1L -> Array(10.0f, 10.0f)).flatMap { case (qid, q) =>
      Ivf.searchLayoutDeltaAware(spark, layout, q, k = 4, nprobe = 1)
        .select("vec_id").as[Long].collect().toSeq.map(qid -> _)
    }.toSet
    assert(got.toSet == singles,
      s"batch results must equal per-query delta-aware singles\nbatch  $got\nsingle $singles")
  }

  test("an empty append commits nothing: the delta count holds, probe and fold keep working") {
    val layout = freshLayout("ivfempty")
    Ivf.appendDelta(layout,
      Seq((901L, Seq(0.02f, 0.04f))).toDF("vec_id", "embedding"), "t_b0")
    val before = MutableStore.deltaTags(Ivf.storeOf(layout.dir)).size
    assert(Ivf.appendDelta(layout,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), "t_b1") == 0L)
    assert(MutableStore.deltaTags(Ivf.storeOf(layout.dir)).size == before,
      "an empty batch must not commit a delta leg")
    def probe(): Set[Long] = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(probe().contains(901L))
    assert(Ivf.compactDeltas(spark, layout) == 1)
    assert(probe().contains(901L), "the fold must keep serving the appended row")
  }

  test("schema-pinned leg reads plan the schema Spark infers") {
    val layout = freshLayout("ivfschema")
    Ivf.appendDelta(layout,
      Seq((911L, Seq(0.02f, 0.04f))).toDF("vec_id", "embedding"), "t_b0")
    Ivf.deleteFromLayout(layout, Seq(1L).toDF("vec_id"))
    // legacy root base, a delta leg and a mask leg
    assert(Ivf.layoutRows(spark, layout).schema == spark.read.parquet(layout.dir).schema)
    assert(Ivf.deltaRows(spark, layout).get.schema ==
      spark.read.parquet(s"${layout.dir}/_delta_t_b0").schema)
    // manifest base after a fold
    Ivf.compactDeltas(spark, layout)
    assert(Ivf.layoutRows(spark, layout).schema == spark.read.parquet(layout.dir).schema)
    assert(Ivf.layoutRows(spark, layout).select("vec_id").as[Long].collect().toSet ==
      Set(2L, 3L, 4L, 5L, 6L, 911L))
  }

  test("delta_<tag> retry idempotency: redelivering a batch rewrites, never doubles") {
    val layout = freshLayout("ivfretry")
    val rows = Seq((201L, Seq(0.03f, 0.03f)), (202L, Seq(0.04f, 0.02f)))
      .toDF("vec_id", "embedding")
    assert(Ivf.appendDelta(layout, rows, "t_b0") == 2L)
    // at-least-once redelivery: the SAME tag arrives again
    assert(Ivf.appendDelta(layout, rows, "t_b0") == 2L)
    val delta = Ivf.deltaRows(spark, layout).get
    assert(delta.count() == 2L,
      "a retried batch must overwrite its own delta, not append a copy")
    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(got.count(id => id == 201L) == 1 && got.count(id => id == 202L) == 1,
      s"no duplicate results after redelivery, got ${got.toSeq}")
  }

  test("compactDeltas folds delta files into the base; search unchanged, dirs gone") {
    val layout = freshLayout("ivfcompact")
    Ivf.appendDelta(layout,
      Seq((401L, Seq(0.03f, 0.06f))).toDF("vec_id", "embedding"), "t_b0")
    Ivf.appendDelta(layout,
      Seq((402L, Seq(0.05f, 0.01f))).toDF("vec_id", "embedding"), "t_b1")
    val before = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(Ivf.compactDeltas(spark, layout) == 2)
    assert(Ivf.deltaRows(spark, layout).isEmpty, "delta dirs must be gone")
    val after = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(after == before, s"compaction must not change results: $before -> $after")
    assert(after.contains(401L) && after.contains(402L))
    // the BASE probe now serves the folded rows too
    val baseOnly = Ivf.searchLayout(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(baseOnly == after, "after compaction the plain probe serves folded rows")
    // idempotent: nothing left to fold
    assert(Ivf.compactDeltas(spark, layout) == 0)
    // sidecar stays compositionally consistent: a fresh buildLayout
    // against the ORIGINAL corpus must detect the mismatch and rebuild
    val rebuilt = Ivf.buildLayout(spark, corpus, layout.dir, nlist = 2, maxIter = 5)
    val again = Ivf.searchLayout(
        spark, rebuilt, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!again.contains(401L),
      "post-compaction rebuild against the original corpus must drop folded rows")
  }

  test("auto-compaction bounds delta count mid-stream; probe results invariant") {
    implicit val sc = spark.sqlContext
    val layout = freshLayout("ivfauto")
    val scratch = java.nio.file.Files.createTempDirectory("ivfauto_s").toString
    // three sequential crawl legs (each its own checkpoint lineage —
    // a fresh MemoryStream can't resume a foreign checkpoint) with
    // maxDeltaDirs = 2: leg 3 starts with 2 pending deltas, so its
    // batch folds them into the base before appending its own
    val streamed = Seq(
      (701L, Seq(0.02f, 0.03f)), (702L, Seq(0.04f, 0.05f)), (703L, Seq(0.01f, 0.06f)))
    streamed.zipWithIndex.foreach { case (row, leg) =>
      val in = MemoryStream[(Long, Seq[Float])]
      in.addData(row)
      StreamingIngest.streamingIvfAppend(
        in.toDF().toDF("vec_id", "embedding"), layout.dir,
        s"$scratch/chk$leg", maxDeltaDirs = 2).awaitTermination()
    }
    assert(MutableStore.deltaTags(Ivf.storeOf(layout.dir)).size == 1,
      s"auto-compaction must fold committed deltas, ${MutableStore.deltaTags(Ivf.storeOf(layout.dir)).size} pending")
    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 8, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(Set(701L, 702L, 703L).subsetOf(got.toSet),
      s"every streamed vector must survive the mid-stream compaction, got ${got.toSeq}")
    assert(got.length == got.toSet.size,
      s"compaction must never double-serve a row: ${got.toSeq}")
    // and the base probe already serves the folded legs
    val baseOnly = Ivf.searchLayout(
        spark, layout, Array(0.0f, 0.0f), k = 8, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(baseOnly.contains(701L) && baseOnly.contains(702L))
  }

  test("compactDeltas excludeTags: an in-flight batch's delta survives the fold") {
    val layout = freshLayout("ivfexcl")
    Ivf.appendDelta(layout,
      Seq((801L, Seq(0.02f, 0.02f))).toDF("vec_id", "embedding"), "t_b0")
    Ivf.appendDelta(layout,
      Seq((802L, Seq(0.05f, 0.03f))).toDF("vec_id", "embedding"), "t_b1")
    // fold only the committed b0; b1 is in flight
    assert(Ivf.compactDeltas(spark, layout, excludeTags = Set("t_b1")) == 1)
    assert(MutableStore.deltaTags(Ivf.storeOf(layout.dir)).size == 1)
    // redelivery of the in-flight batch rewrites its delta — safe
    Ivf.appendDelta(layout,
      Seq((802L, Seq(0.05f, 0.03f))).toDF("vec_id", "embedding"), "t_b1")
    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 8, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(got.count(_ == 801L) == 1 && got.count(_ == 802L) == 1,
      s"fold + redelivery must serve each row exactly once: ${got.toSeq}")
  }

  test("compactLayout folds deltas first: a deleted delta row is never resurrected") {
    val layout = freshLayout("ivfressur")
    Ivf.appendDelta(layout,
      Seq((501L, Seq(0.02f, 0.07f))).toDF("vec_id", "embedding"), "t_b0")
    // delete one base row AND the delta-appended row in one call
    assert(Ivf.deleteFromLayout(layout, Seq(3L, 501L).toDF("vec_id")) == 2L)
    // aggressive threshold forces the physical rewrite: the base-only
    // rewrite used to drop 501's tombstone while its data file survived
    // in the delta dir — the delete leg's rows must stay deleted
    assert(Ivf.compactLayout(spark, layout, maxTombstoneFraction = 0.01))
    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!got.contains(501L) && !got.contains(3L),
      s"deleted rows must stay deleted through compactLayout, got $got")
    // and a later delta fold finds nothing to resurrect either
    Ivf.compactDeltas(spark, layout)
    val after = Ivf.searchLayout(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!after.contains(501L) && !after.contains(3L),
      s"nothing may reappear after a post-compaction fold, got $after")
  }

  test("compactDeltas fingerprints live rows only: sidecar attests the live corpus") {
    val layout = freshLayout("ivffpl")
    Ivf.appendDelta(layout,
      Seq((601L, Seq(0.02f, 0.08f)), (602L, Seq(0.07f, 0.01f)))
        .toDF("vec_id", "embedding"), "t_b0")
    // a delta-only delete: tombstone written, sidecar untouched
    assert(Ivf.deleteFromLayout(layout, Seq(601L).toDF("vec_id")) == 1L)
    Ivf.compactDeltas(spark, layout)
    // the TRUE live corpus (base + the surviving delta row) must get a
    // reuse hit — the old raw-union fingerprint folded the deleted row
    // in, so every later buildLayout against live data full-rebuilt
    val live = corpus.unionByName(
      Seq((602L, Seq(0.07f, 0.01f))).toDF("vec_id", "embedding"))
    val marker = java.nio.file.Paths.get(layout.dir, "_reuse_probe")
    java.nio.file.Files.writeString(marker, "x")
    Ivf.buildLayout(spark, live, layout.dir, nlist = 2, maxIter = 5)
    assert(java.nio.file.Files.exists(marker),
      "live-corpus fingerprint must match the sidecar — reuse, not rebuild")
    val got = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 7, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(602L) && !got.contains(601L))
    // conversely a STALE corpus still carrying the deleted row mismatches
    val stale = live.unionByName(
      Seq((601L, Seq(0.02f, 0.08f))).toDF("vec_id", "embedding"))
    Ivf.buildLayout(spark, stale, layout.dir, nlist = 2, maxIter = 5)
    assert(!java.nio.file.Files.exists(marker),
      "a corpus containing the deleted row must force a rebuild")
  }

  /** Runs `op` twice with the state json restored to its bytes from
    * before the first run in between — the files a crash right after
    * the first run's data writes, and before its state commit, leaves
    * on disk — then checks that `buildLayout` over `live` REUSES the
    * layout: the fingerprint terms must have moved exactly once. */
  private def assertOneCommitPoint(layout: Ivf.Layout, live: => DataFrame)(op: => Unit): Unit = {
    val state = java.nio.file.Paths.get(layout.dir, MutableStore.stateName)
    val saved = java.nio.file.Files.readAllBytes(state)
    op
    java.nio.file.Files.write(state, saved)
    op
    val marker = java.nio.file.Paths.get(layout.dir, "_reuse_probe")
    java.nio.file.Files.writeString(marker, "x")
    Ivf.buildLayout(spark, live, layout.dir, nlist = 2, maxIter = 5)
    assert(java.nio.file.Files.exists(marker),
      "a retried operation must move the fingerprint once — reuse, not rebuild")
  }

  test("deleteFromLayout has one commit point: a retry after a lost state commit subtracts once") {
    val layout = freshLayout("ivfdelcp")
    Ivf.appendDelta(layout,
      Seq((951L, Seq(0.03f, 0.04f))).toDF("vec_id", "embedding"), "t_b0")
    assertOneCommitPoint(layout, corpus.filter(!col("vec_id").isin(2L, 5L))) {
      Ivf.deleteFromLayout(layout, Seq(2L, 5L).toDF("vec_id"))
    }
    val got = Ivf.layoutRows(spark, layout).select("vec_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L, 6L, 951L), s"live ids: $got")
  }

  test("compactDeltas has one commit point: a retry after a lost state commit folds once") {
    val layout = freshLayout("ivffoldcp")
    val added = Seq((961L, Seq(0.03f, 0.04f)), (962L, Seq(0.05f, 0.02f)),
      (963L, Seq(10.03f, 10.04f))).toDF("vec_id", "embedding")
    Ivf.appendDelta(layout, added, "t_b0")
    assertOneCommitPoint(layout, corpus.unionByName(added)) {
      Ivf.compactDeltas(spark, layout)
    }
    val got = Ivf.layoutRows(spark, layout).select("vec_id").as[Long].collect()
    assert(got.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L, 961L, 962L, 963L), s"live ids: ${got.toSeq}")
  }

  test("tombstone interplay: deleting a delta-appended vector hides it from search") {
    val layout = freshLayout("ivftomb")
    Ivf.appendDelta(layout,
      Seq((301L, Seq(0.02f, 0.05f))).toDF("vec_id", "embedding"), "t_b0")
    val before = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(before.contains(301L))
    assert(Ivf.deleteFromLayout(layout,
      Seq(301L).toDF("vec_id")) == 1L)
    val after = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!after.contains(301L), "tombstoned delta row must not be served")
    // idempotent: a second delete of the same id is a no-op
    assert(Ivf.deleteFromLayout(layout, Seq(301L).toDF("vec_id")) == 0L)
    // base rows untouched, and a BASE delete still adjusts the sidecar
    // (delta deletes never do — the sidecar attests base data only)
    assert(after.intersect(Set(1L, 2L, 3L)).nonEmpty)
    assert(Ivf.deleteFromLayout(layout, Seq(3L).toDF("vec_id")) == 1L)
    val afterBase = Ivf.searchLayoutDeltaAware(
        spark, layout, Array(0.0f, 0.0f), k = 6, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(!afterBase.contains(3L) && !afterBase.contains(301L))
  }

  test("batch probe equals per-query searchLayout; tombstones excluded; one shared scan") {
    val layout = freshLayout("ivfbatch")
    // two queries landing in DIFFERENT clusters — the union scan reads
    // both, but each query must stay inside its own probed cluster
    val queries = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)))
      .toDF("query_id", "q_embedding")
    def batch(): Seq[(Long, Long, Double, Int)] =
      Ivf.searchLayoutBatch(spark, layout, queries, k = 3, nprobe = 1)
        .as[(Long, Long, Double, Int)].collect().toSeq
    def single(q: Array[Float]): Seq[(Long, Double)] =
      Ivf.searchLayout(spark, layout, q, k = 3, nprobe = 1)
        .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = single(Array(0.0f, 0.0f)).zipWithIndex.map { case ((id, d), i) => (0L, id, d, i + 1) } ++
      single(Array(10.0f, 10.0f)).zipWithIndex.map { case ((id, d), i) => (1L, id, d, i + 1) }
    assert(batch() == want,
      s"batch probe must equal the per-query probes\ngot  ${batch()}\nwant $want")
    // a tombstoned vector disappears from the batch result too
    Ivf.deleteFromLayout(layout, Seq(1L).toDF("vec_id"))
    assert(!batch().exists(_._2 == 1L),
      "tombstoned vector must be excluded from the batch probe")
  }
}
