package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** NAMED snapshot tags + ROLLBACK ([[MutableStore.tagSnapshot]] /
  * [[MutableStore.rollbackTo]] — the Iceberg tag/rollback analogues,
  * completing the snapshot lifecycle: pin (probes), retain (GC
  * policy), read (time travel), NAME (tags), RESTORE (rollback)).
  *
  *  - a tag EXEMPTS its version from the retention policy: the tagged
  *    prior survives compaction GC, the priors-list cap, and the
  *    standalone expiry, until the tag is dropped;
  *  - rollback commits a state replaying a RETAINED prior's reference
  *    set — no data copied or deleted; the rolled-back-FROM version
  *    becomes a retained prior, so roll-forward is symmetric;
  *  - never-reuse allocation holds across a rollback: the next
  *    compaction skips every on-disk version;
  *  - loud errors everywhere: unretained target, tag collision, dirty
  *    names, resolving a missing tag.
  */
class TagsRollbackSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  test("splitPriors / pushPrior: a tagged prior is exempt from the keep-N policy and the cap") {
    val dir = tmp("tags_unit")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val store = MutableStore.flatLayout(dir, "Spec")
    val r1 = MutableStore.SnapRef(1, Seq("a1"), Seq.empty, 1000L)
    val r2 = MutableStore.SnapRef(2, Seq("a2"), Seq.empty, 2000L)
    MutableStore.withWriterLock(dir, "fixture") {
      MutableStore.commitState(dir, 3, Seq.empty, Seq.empty,
        live = Seq("a3"), liveTombs = Seq.empty,
        priors = Seq(r1, r2).map(MutableStore.encodeRef))
    }
    assert(MutableStore.tagSnapshot(store, "keep", Some(1)) == 1)

    // default keep-1 policy protects ZERO priors — except the tagged one
    val (prot, due) = MutableStore.splitPriors(dir,
      Seq(r1, r2).map(MutableStore.encodeRef))
    assert(prot.map(_.v) == Seq(1), "tagged v1 protected beyond policy")
    assert(due.map(_.v) == Seq(2), "untagged v2 due as the policy says")

    // pushPrior under cap=1: the fresh prior takes the cap slot, the
    // tagged ref rides ALONGSIDE it — never pushed off the list
    val pushed = MutableStore
      .pushPrior(dir, prot, MutableStore.SnapRef(3, Seq("a3"), Seq.empty))
      .map(MutableStore.decodeRef(_).v).sorted
    assert(pushed == Seq(1, 3), "tagged v1 survives the keep-1 cap")
    assert(MutableStore.dropTag(store, "keep"))
    assert(!MutableStore.dropTag(store, "keep"), "second drop reports absent")
  }

  test("tag validation: unretained version, name collision, dirty name, missing resolve — all loud") {
    val dir = tmp("tags_valid")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val store = MutableStore.flatLayout(dir, "Spec")
    MutableStore.withWriterLock(dir, "fixture") {
      MutableStore.commitState(dir, 2, Seq.empty, Seq.empty,
        live = Seq.empty, liveTombs = Seq.empty,
        priors = Seq(MutableStore.encodeRef(
          MutableStore.SnapRef(1, Seq.empty, Seq.empty, 1000L))))
    }
    val e1 = intercept[IllegalArgumentException] {
      MutableStore.tagSnapshot(store, "t", Some(7))
    }
    assert(e1.getMessage.contains("not retained") &&
      e1.getMessage.contains("1, 2"), s"names the readable versions: $e1")
    assert(MutableStore.tagSnapshot(store, "t", Some(1)) == 1)
    assert(MutableStore.tagSnapshot(store, "t", Some(1)) == 1, "same-version re-tag is a no-op")
    val e2 = intercept[IllegalArgumentException] {
      MutableStore.tagSnapshot(store, "t", Some(2))
    }
    assert(e2.getMessage.contains("already names version 1"), s"$e2")
    intercept[IllegalArgumentException] {
      MutableStore.tagSnapshot(store, "no|pipes", Some(2))
    }
    val e3 = intercept[IllegalArgumentException] {
      MutableStore.resolveTag(dir, "ghost")
    }
    assert(e3.getMessage.contains("tags: t"), s"names the tags that exist: $e3")
  }

  test("fuzzy store lifecycle: tag protects under default retention; viewAtTag; rollback; roll-forward; dropTag + expiry revokes") {
    import graft.ops.FuzzyJoin
    val dir = tmp("tags_fuzzy")
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
    commit(50L, "a1") // → v1
    val wantV1 = ids(FuzzyJoin.fuzzyStoreView(spark, dir))
    assert(MutableStore.tagSnapshot(FuzzyJoin.flatOf(dir), "golden") == 1)

    // DEFAULT retention=1 protects zero priors — two commits would
    // collect v1; the tag keeps it
    commit(60L, "a2") // → v2
    commit(61L, "a3") // → v3 (GC at this compaction sees the v1 prior)
    assert(exists(s"$dir/base_v1"),
      "the tagged v1 base survives a compaction that would collect it")
    assert(ids(FuzzyJoin.fuzzyStoreViewAtTag(spark, dir, "golden")) == wantV1,
      "time travel by tag serves the tagged snapshot")

    // ROLLBACK to the tag: live view == tagged snapshot; no data moved
    val from = MutableStore.rollbackToTag(FuzzyJoin.flatOf(dir), "golden")
    assert(from == 3)
    assert(MutableStore.state(dir).v == 1)
    assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) == wantV1)

    // ROLL-FORWARD: the rolled-back-from version is a retained prior
    assert(MutableStore.rollbackTo(FuzzyJoin.flatOf(dir), 3) == 1)
    assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) == wantV1 ++ Set(60L, 61L))

    // a compaction AFTER the rollback dance allocates past every
    // on-disk version (never-reuse) and keeps the tagged v1
    commit(62L, "a4") // → v4
    assert(MutableStore.state(dir).v == 4, "never-reuse allocation skips v1..v3")
    assert(exists(s"$dir/base_v1"))
    assert(ids(FuzzyJoin.fuzzyStoreViewAtTag(spark, dir, "golden")) == wantV1)

    // drop the tag: the next expiry collects v1 under the default
    // policy and revokes the read
    assert(MutableStore.dropTag(FuzzyJoin.flatOf(dir), "golden"))
    assert(MutableStore.expire(FuzzyJoin.flatOf(dir)) >= 1)
    assert(!exists(s"$dir/base_v1"), "dropping the tag releases the snapshot")
    intercept[IllegalArgumentException] {
      FuzzyJoin.fuzzyStoreViewAt(spark, dir, 1).collect()
    }
    assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) ==
      wantV1 ++ Set(60L, 61L, 62L), "the live view is untouched")
  }

  test("hash store: a tag pins the PRE-DELETE capture the version read cannot express; rollback undoes a compacted delete; current-version tag with newer legs refuses loudly") {
    import graft.dedup.Dedup
    val dir = tmp("tags_hash")
    val base = Seq((11L, "h-a"), (12L, "h-b"), (13L, "h-c")).toDF("id", "text")
    Dedup.ensureHashStore(spark, base, dir, "id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("first_id").distinct().as[Long].collect().toSet
    Dedup.incrementalDedupBatch(spark, dir,
      Seq((14L, "h-d")).toDF("id", "text"), "id", "text",
      batchTag = Some("b1")).collect()
    Dedup.compactHashStore(spark, dir) // → v1
    assert(MutableStore.tagSnapshot(Dedup.flatOf(dir), "clean") == 1)

    // an uncompacted DELETE hides a row from the live view — but not
    // from the tag's capture (same version, different legs: the
    // distinction a version-keyed read cannot express)
    Dedup.deleteFromHashStore(spark, dir,
      Seq((12L, "h-b")).toDF("id", "text"), tag = "d1",
      idCol = "id", textCol = "text")
    assert(ids(Dedup.hashStoreView(spark, dir)) == Set(11L, 13L, 14L))
    assert(ids(Dedup.hashStoreViewAtTag(spark, dir, "clean")) ==
      Set(11L, 12L, 13L, 14L), "the tag pins the pre-delete capture")

    // rolling back to a current-version tag with NEWER legs committed
    // since must refuse loudly (it would orphan the live tombstone)
    val e = intercept[IllegalArgumentException] {
      MutableStore.rollbackToTag(Dedup.flatOf(dir), "clean")
    }
    assert(e.getMessage.contains("compact first"), s"$e")

    // after the delete COMPACTS (physically reclaiming the row), the
    // tag still protects the pre-delete base — rollback restores it
    Dedup.compactHashStore(spark, dir) // → v2, 12 physically gone
    assert(ids(Dedup.hashStoreView(spark, dir)) == Set(11L, 13L, 14L))
    assert(MutableStore.rollbackToTag(Dedup.flatOf(dir), "clean") == 2)
    assert(ids(Dedup.hashStoreView(spark, dir)) == Set(11L, 12L, 13L, 14L),
      "rollback undoes the compacted delete from the tag-protected files")
  }

  test("rollback validation: unretained target fails loudly naming the readable versions; same-version rollback is a no-op") {
    import graft.ops.FuzzyJoin
    val dir = tmp("tags_rbvalid")
    val registry = (1L to 5L).map(i => (i, f"nm-$i%03d")).toDF("id", "name")
    FuzzyJoin.ensureFuzzyStore(spark, registry, dir, "id", "name")
    FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
      Seq((50L, "zzz-unique-zzz")).toDF("id", "name"),
      "id", "name", batchTag = Some("a1")).collect()
    FuzzyJoin.compactFuzzyStore(spark, dir) // v1
    val e = intercept[IllegalArgumentException] {
      MutableStore.rollbackTo(FuzzyJoin.flatOf(dir), 99)
    }
    assert(e.getMessage.contains("not readable"), s"$e")
    assert(MutableStore.rollbackTo(FuzzyJoin.flatOf(dir), 1) == 1, "no-op returns the version")
    assert(MutableStore.state(dir).v == 1)
  }

  test("IVF layout: tag + rollback + roll-forward through the manifest protocol; a post-rollback fold keeps the tagged version readable") {
    import graft.index.Ivf
    val rng = new scala.util.Random(71)
    val dim = 6
    val corpus = (0L until 80L)
      .map(i => (i, Array.fill(dim)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val root = tmp("tags_ivf")
    val dir = s"$root/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4, maxIter = 3)
    def append(idBase: Long, tag: String): Unit = {
      Ivf.appendDelta(layout,
        corpus.limit(2).select((col("vec_id") + lit(idBase)).as("vec_id"),
          col("embedding")), tag = tag)
      Ivf.compactDeltas(spark, layout)
    }
    def idsNow(): Set[Long] =
      Ivf.layoutRows(spark, layout).select("vec_id").as[Long].collect().toSet
    append(1000L, "m1") // → v1 (manifest-committed)
    val v1 = MutableStore.state(dir).v
    val wantV1 = idsNow()
    assert(MutableStore.tagSnapshot(Ivf.storeOf(dir), "validated") == v1)

    append(2000L, "m2") // supersedes v1; tag protects it
    append(3000L, "m3")
    val v3 = MutableStore.state(dir).v
    val wantV3 = idsNow()
    assert(Ivf.layoutRowsAtTag(spark, layout, "validated")
      .select("vec_id").as[Long].collect().toSet == wantV1,
      "the TAG replays its exact captured snapshot (no post-tag deltas)")
    assert(Ivf.layoutRowsAt(spark, layout, v1)
      .select("vec_id").as[Long].collect().toSet ==
      wantV1 ++ Set(2000L, 2001L),
      "the VERSION read replays v1's retirement state (delta m2 was live " +
        "when the superseding commit retired it) — the documented distinction")

    // rollback to the validated index, then roll forward
    assert(MutableStore.rollbackToTag(Ivf.storeOf(dir), "validated") == v3)
    assert(idsNow() == wantV1, "rollback replays the tagged snapshot")
    assert(MutableStore.rollbackTo(Ivf.storeOf(dir), v3) == v1)
    assert(idsNow() == wantV3, "roll-forward replays the newest state")

    // a fold AFTER the rollback dance: never-reuse allocation, and the
    // tagged version still reads through its immutable manifest
    append(4000L, "m4")
    assert(MutableStore.state(dir).v > v3, "allocation skips on-disk versions")
    assert(Ivf.layoutRowsAtTag(spark, layout, "validated")
      .select("vec_id").as[Long].collect().toSet == wantV1)
    assert(MutableStore.dropTag(Ivf.storeOf(dir), "validated"))
    assert(MutableStore.expire(Ivf.storeOf(dir)) >= 1)
    intercept[IllegalArgumentException] {
      Ivf.layoutRowsAt(spark, layout, v1).collect()
    }
  }

  test("rollback keeps a version ABOVE the pointer readable: the IVF debris sweep spares retained-prior folds/manifests") {
    import graft.index.Ivf
    val rng = new scala.util.Random(72)
    val dim = 6
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(dim)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val root = tmp("tags_ivf_debris")
    val dir = s"$root/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4, maxIter = 3)
    def append(idBase: Long, tag: String): Unit = {
      Ivf.appendDelta(layout,
        corpus.limit(2).select((col("vec_id") + lit(idBase)).as("vec_id"),
          col("embedding")), tag = tag)
      Ivf.compactDeltas(spark, layout)
    }
    append(1000L, "m1") // → v1
    append(2000L, "m2") // → v2
    val v2 = MutableStore.state(dir).v
    val wantV2 = Ivf.layoutRows(spark, layout)
      .select("vec_id").as[Long].collect().toSet
    MutableStore.tagSnapshot(Ivf.storeOf(dir), "head") // tag v2, then roll below it
    val v1 = v2 - 1
    // v1 must be retained to roll back to; tag it too
    MutableStore.tagSnapshot(Ivf.storeOf(dir), "prev", Some(v1))
    assert(MutableStore.rollbackTo(Ivf.storeOf(dir), v1) == v2)
    // expiry's debris sweep runs with the pointer BELOW v2 — the
    // retained (tagged) v2 fold tree + manifest must survive it
    MutableStore.expire(Ivf.storeOf(dir))
    assert(Ivf.layoutRowsAt(spark, layout, v2)
      .select("vec_id").as[Long].collect().toSet == wantV2,
      "a retained version above the rolled-back pointer is not debris")
    assert(MutableStore.rollbackTo(Ivf.storeOf(dir), v2) == v1, "roll-forward after the sweep")
    assert(Ivf.layoutRows(spark, layout)
      .select("vec_id").as[Long].collect().toSet == wantV2)
  }
}
