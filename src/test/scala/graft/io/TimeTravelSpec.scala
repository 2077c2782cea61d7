package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** TIME-TRAVEL reads over retained priors ([[MutableStore.priorRefOf]]
  * — the `VERSION AS OF` analogue, r16 VERDICT task 4). The retention
  * machinery already keeps N prior snapshots' files on disk; these
  * reads expose "open the store AS OF prior v":
  *
  *  - a retained prior replays the snapshot EXACTLY as it was when the
  *    superseding commit RETIRED it — base version plus the delta legs
  *    and tombstones live at that moment (the state a probe pinned
  *    just before the compaction saw; mutations commit into the live
  *    lists without bumping v, so "version" granularity is compaction
  *    commits);
  *  - the current version resolves to the live view (including
  *    uncompacted mutations);
  *  - an unreadable version fails loudly, naming what IS readable;
  *  - expiry revokes readability (the error, not dangling files).
  */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("fuzzy store: retained priors replay their retirement states; unreadable versions fail loudly; expiry revokes") {
    import graft.ops.FuzzyJoin
    val dir = tmp("tt_fuzzy")
    val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
    FuzzyJoin.ensureFuzzyStore(spark, registry, dir, "id", "name")
    def commit(id: Long, tag: String): Unit = {
      FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
        Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
        "id", "name", batchTag = Some(tag)).collect()
      FuzzyJoin.compactFuzzyStore(spark, dir)
    }
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("store_id").distinct().as[Long].collect().toSet
    val base = (1L to 9L).toSet
    commit(50L, "a1") // v0 retired carrying live=[a1] → v1
    MutableStore.setGcRetention(dir, Some(2))
    try {
      commit(60L, "a2") // v1 retired carrying live=[a2] → v2
      // an UNCOMPACTED mutation distinguishes the live view from v1's
      // retirement state
      FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
        Seq((70L, "uniq70uniq70uniq70")).toDF("id", "name"),
        "id", "name", batchTag = Some("live1")).collect()
      assert(MutableStore.retainedVersions(dir) == Seq(0, 1, 2))

      assert(ids(FuzzyJoin.fuzzyStoreViewAt(spark, dir, 2)) ==
        base ++ Set(50L, 60L, 70L),
        "AS OF the current version = the live view, uncompacted legs included")
      assert(ids(FuzzyJoin.fuzzyStoreViewAt(spark, dir, 1)) ==
        base ++ Set(50L, 60L),
        "AS OF v1 = its retirement state: base_v1 + the a2 leg live at " +
          "the superseding commit, WITHOUT the later uncompacted leg")
      assert(ids(FuzzyJoin.fuzzyStoreViewAt(spark, dir, 0)) ==
        base + 50L,
        "AS OF v0 = the seed base + the a1 leg live when v0 retired")

      val e = intercept[IllegalArgumentException] {
        FuzzyJoin.fuzzyStoreViewAt(spark, dir, 7)
      }
      assert(e.getMessage.contains("retained versions: 0, 1, 2"),
        s"the error must name what IS readable: ${e.getMessage}")

      // expiry under the default policy revokes the priors loudly
      MutableStore.setGcRetention(dir, None)
      MutableStore.expire(FuzzyJoin.flatOf(dir))
      val e2 = intercept[IllegalArgumentException] {
        FuzzyJoin.fuzzyStoreViewAt(spark, dir, 1)
      }
      assert(e2.getMessage.contains("not readable"),
        "an expired version must fail loudly, never serve dangling files")
      // the live view is untouched by the expiry
      assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) ==
        base ++ Set(50L, 60L, 70L))
    } finally MutableStore.setGcRetention(dir, None)
  }

  test("hash store: AS OF a prior shows rows a later uncompacted delete has hidden — the audit read") {
    import graft.dedup.Dedup
    val dir = tmp("tt_hash")
    val base = Seq((11L, "h-a"), (12L, "h-b"), (13L, "h-c"))
      .toDF("id", "text")
    Dedup.ensureHashStore(spark, base, dir, "id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("first_id").distinct().as[Long].collect().toSet
    MutableStore.setGcRetention(dir, Some(2))
    try {
      // v0 retired carrying live=[b1] → v1
      Dedup.incrementalDedupBatch(spark, dir,
        Seq((14L, "h-d")).toDF("id", "text"), "id", "text",
        batchTag = Some("b1")).collect()
      Dedup.compactHashStore(spark, dir)
      val st = MutableStore.state(dir)
      assert(st.v == 1 && MutableStore.retainedVersions(dir) == Seq(0, 1))
      assert(ids(Dedup.hashStoreView(spark, dir)) == Set(11L, 12L, 13L, 14L))

      // an UNCOMPACTED delete hides a row from the live view…
      Dedup.deleteFromHashStore(spark, dir,
        Seq((12L, "h-b")).toDF("id", "text"), tag = "d1",
        idCol = "id", textCol = "text")
      assert(ids(Dedup.hashStoreView(spark, dir)) == Set(11L, 13L, 14L))
      assert(ids(Dedup.hashStoreViewAt(spark, dir, 1)) ==
        Set(11L, 13L, 14L),
        "AS OF the current version = the live view, the delete applied")
      // …but AS OF v0 (retired before the delete existed) still shows it
      assert(ids(Dedup.hashStoreViewAt(spark, dir, 0)) ==
        Set(11L, 12L, 13L, 14L),
        "AS OF the retained prior replays the pre-delete store — the " +
          "debugging/audit companion the retained files already pay for")
    } finally MutableStore.setGcRetention(dir, None)
  }

  test("ivf layout: layoutRowsAt replays a retained prior's manifest and legs, without later tombstones") {
    import graft.index.Ivf
    val rng = new scala.util.Random(47)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(4)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("tt_ivf") + "/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4, maxIter = 3)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").distinct().as[Long].collect().toSet
    MutableStore.setGcRetention(dir, Some(2))
    try {
      val planted = corpus.filter(col("vec_id") === 7L)
        .crossJoin(spark.range(2))
        .select((col("id") + 9000000L).as("vec_id"), col("embedding"))
      Ivf.appendDelta(layout, planted, tag = "a1")
      Ivf.compactDeltas(spark, layout) // v0 retired carrying live=[a1]
      val all = (0L until 60L).toSet ++ Set(9000000L, 9000001L)
      val cur = MutableStore.state(dir).v
      assert(ids(Ivf.layoutRows(spark, layout)) == all)

      // an UNCOMPACTED delete hides a planted row from the live view…
      Ivf.deleteFromLayout(layout, Seq(9000001L).toDF("vec_id"), tag = "d1")
      assert(ids(Ivf.layoutRows(spark, layout)) == all - 9000001L)
      assert(ids(Ivf.layoutRowsAt(spark, layout, cur)) == all - 9000001L,
        "AS OF the current version = the live view, the delete applied")
      // …but AS OF v0 (retired with a1 live, before the delete) shows it
      assert(ids(Ivf.layoutRowsAt(spark, layout, 0)) == all,
        "AS OF the retained prior replays its manifest-era files and the " +
          "a1 leg live at retirement, unmasked by the later tombstone")
      val e = intercept[IllegalArgumentException] {
        Ivf.layoutRowsAt(spark, layout, 99)
      }
      assert(e.getMessage.contains("retained versions"))
    } finally MutableStore.setGcRetention(dir, None)
  }
}
