package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.io.MutableStore

/** Takedown on the persisted fuzzy signature store: a scrubbed
  * entity's deletion-neighborhood postings go too; re-registration
  * after the takedown resolves again; compaction physically drops. */
class FuzzyStoreDeleteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def resolve(dir: String, batch: org.apache.spark.sql.DataFrame,
      tag: String): Map[Long, (Boolean, Option[Long])] =
    FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir, batch,
        "id", "name", batchTag = Some(tag))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

  test("fuzzy takedown lifecycle: mask, next-best match, re-registration, compaction") {
    val reg = Seq((1L, "alpha"), (2L, "bravo"), (3L, "alphx"))
      .toDF("id", "name")
    val dir = tmp("fzdel")
    FuzzyJoin.ensureFuzzyStore(spark, reg, dir, "id", "name")
    // pre-delete: "alpha" resolves exactly to 1
    val b = Seq((100L, "alpha")).toDF("id", "name")
    assert(resolve(dir, b, "p0")(100L) == (false, Some(1L)))
    MutableStore.dropMutations(FuzzyJoin.flatOf(dir)) // p0 left no delta (not novel)

    // take down 1: the probe must fall through to the ed-1 neighbor 3
    FuzzyJoin.deleteFromFuzzyStore(spark, dir, Seq(1L).toDF("store_id"), tag = "t1")
    assert(resolve(dir, b, "p1")(100L) == (false, Some(3L)))
    // take down 3 too: novel -> the resolve APPENDS 100's postings
    FuzzyJoin.deleteFromFuzzyStore(spark, dir, Seq(3L).toDF("store_id"), tag = "t2")
    assert(resolve(dir, b, "p2")(100L) == (true, None))
    // a later batch resolves against the re-registered entity
    val b2 = Seq((200L, "alpha")).toDF("id", "name")
    assert(resolve(dir, b2, "p3")(200L) == (false, Some(100L)),
      "an entity re-registered after its takedown must resolve again")

    // compaction: physical drop + versioned base + invariance
    FuzzyJoin.compactFuzzyStore(spark, dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/base_v1")))
    val ids = spark.read.parquet(s"$dir/base_v1")
      .select("store_id").distinct().as[Long].collect().toSet
    assert(!ids.contains(1L) && !ids.contains(3L),
      "tombstoned entities' postings must be physically dropped")
    assert(ids.contains(100L), "re-registered entity's postings must be folded in")
    assert(resolve(dir, Seq((300L, "alpha")).toDF("id", "name"), "p4")(300L)
      == (false, Some(100L)))
  }
}
