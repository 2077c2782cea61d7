package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ops.VectorSearch
import graft.io.MutableStore

class HnswSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private def corpus(n: Int, seed: Int = 7) = {
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map(i => (i, Array.fill(dim)(rng.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  private def exactTopK(df: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int): Seq[Long] = {
    val vecs = df.as[(Long, Array[Float])].collect()
    vecs.map { case (id, v) => (Hnsw.dist(q, v), id) }.sorted.take(k).map(_._2).toSeq
  }

  test("level draw is deterministic, geometric-shaped, capped") {
    val p = Hnsw.Params(m = 8)
    val levels = (0L until 20000L).map(Hnsw.levelOf(_, p.ml))
    assert(levels == (0L until 20000L).map(Hnsw.levelOf(_, p.ml)))
    val l0 = levels.count(_ == 0).toDouble / levels.size
    // P(level = 0) = 1 - m^-1 = 0.875 for m=8; allow generous slack
    assert(l0 > 0.8 && l0 < 0.95, s"P(l=0)=$l0")
    assert(levels.max <= 24 && levels.max >= 1)
  }

  test("two builds over the same corpus are bit-identical (adjacency, levels, parts)") {
    val c = corpus(400)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 3)
    val a = Hnsw.build(c, p).orderBy("vec_id").collect().toSeq
    val b = Hnsw.build(c.repartition(11), p).orderBy("vec_id").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(1)).toSet == (0L until 400L).toSet)
  }

  test("degree bounds hold: layer 0 <= 2m, upper layers <= m after pruning") {
    val p = Hnsw.Params(m = 4, efConstruction = 24, parts = 2)
    val rows = Hnsw.build(corpus(500), p)
      .select(col("vec_id"), col("friends")).as[(Long, Seq[Seq[Long]])].collect()
    rows.foreach { case (id, fr) =>
      fr.zipWithIndex.foreach { case (layer, l) =>
        val cap = if (l == 0) p.mMax0 else p.m
        assert(layer.length <= cap, s"node $id layer $l degree ${layer.length} > $cap")
        assert(layer.distinct.length == layer.length, s"node $id layer $l dup edge")
        assert(!layer.contains(id), s"node $id self-edge at layer $l")
      }
    }
  }

  test("searchKnn over the persisted layout recalls the exact top-10 on seeded data") {
    val c = corpus(800)
    val p = Hnsw.Params(m = 8, efConstruction = 64, parts = 4)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 123L).as[(Long, Array[Float])].head()._2
    val got = Hnsw.searchLayout(spark, dir, q, 10, p, efSearch = 64)
      .select("vec_id").as[Long].collect().toSeq
    val exact = exactTopK(c, q, 10)
    val recall = got.toSet.intersect(exact.toSet).size
    assert(recall >= 9, s"recall@10 = $recall: got $got vs exact $exact")
    assert(got.head == 123L, "the query's own vector must rank first")
  }

  test("emitted distances are bit-equal to the L2Sq kernel for the same pairs") {
    val c = corpus(300)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 0L).as[(Long, Array[Float])].head()._2
    val got = Hnsw.searchLayout(spark, dir, q, 10, p)
    val kernel = c.select(col("vec_id"),
      graft.functions.Distances.l2Sq(col("embedding"), lit(q)).as("kd"))
    val bad = got.join(kernel, "vec_id")
      .filter(col("dist") =!= col("kd")).count()
    assert(bad == 0L)
  }

  test("layout artifact: reused while fresh, rebuilt when the corpus or params change") {
    val c = corpus(200, seed = 3)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val sidecar = java.nio.file.Paths.get(dir, "_hnsw_sidecar.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    Hnsw.ensureLayout(c, dir, p) // fresh -> no rewrite
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0)
    Hnsw.ensureLayout(c, dir, Hnsw.Params(m = 6, efConstruction = 16, parts = 2))
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) != t0, "param change must rebuild")
    val c2 = corpus(200, seed = 4)
    val before = java.nio.file.Files.getLastModifiedTime(sidecar)
    Hnsw.ensureLayout(c2, dir, Hnsw.Params(m = 6, efConstruction = 16, parts = 2))
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) != before, "data change must rebuild")
  }

  test("probe groups shards inside scan tasks: results invariant to scan partitioning") {
    val c = corpus(400, seed = 9)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 7L).as[(Long, Array[Float])].head()._2
    val viaLayout = Hnsw.searchLayout(spark, dir, q, 10, p).collect().toSeq
    // same graphs fed as ONE coalesced scan partition (shards combine
    // into one task; the in-task group-by-part must keep them separate)
    val one = Hnsw.layout(spark, dir).coalesce(1)
    val viaOne = Hnsw.searchCandidates(one, Seq((0L, q)), 10, p)
      .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaLayout.map(_.getLong(0)) == viaOne)
  }

  test("resident graph cache: repeat probes identical; a data change never serves stale graphs") {
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    val c1 = corpus(200, seed = 21)
    Hnsw.ensureLayout(c1, dir, p)
    val q = c1.filter(col("vec_id") === 5L).as[(Long, Array[Float])].head()._2
    val first = Hnsw.searchLayout(spark, dir, q, 10, p).collect().toSeq
    val second = Hnsw.searchLayout(spark, dir, q, 10, p).collect().toSeq
    assert(first == second)
    // new corpus under the SAME dir: the sidecar fingerprint changes,
    // so the cache keys change — results must reflect the new data
    val c2 = corpus(200, seed = 22)
    Hnsw.ensureLayout(c2, dir, p)
    val fresh = Hnsw.searchLayout(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(fresh == exactTopK(c2, q, 10),
      "post-rebuild probe must serve the NEW corpus, not cached graphs")
  }

  test("tombstone delete: excluded from results, still routes, rebuild clears, redelivery idempotent") {
    val c = corpus(400, seed = 31)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 50L).as[(Long, Array[Float])].head()._2
    val before = Hnsw.searchLayout(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(before.head == 50L)
    // delete the query's own id + its runner-up
    Hnsw.deleteFromLayout(spark, dir, Seq(before.head, before(1)), tag = "t1")
    val after = Hnsw.searchLayout(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(!after.contains(before.head) && !after.contains(before(1)))
    // recall holds: the survivors are exactly the exact-top-10 minus the dead
    val exact = exactTopK(c, q, 12).filterNot(Set(before.head, before(1))).take(10)
    assert(after == exact, s"post-delete ranking: $after vs $exact")
    // redelivery of the SAME tag is idempotent
    Hnsw.deleteFromLayout(spark, dir, Seq(before.head, before(1)), tag = "t1")
    assert(Hnsw.tombstonedIds(spark, dir) == Set(before.head, before(1)))
    // a rebuild (changed corpus) clears stale tombstones
    Hnsw.ensureLayout(corpus(400, seed = 32), dir, p)
    assert(Hnsw.tombstonedIds(spark, dir).isEmpty, "rebuild must clear tombstones")
  }

  test("re-adding a tombstoned id fails LOUD; compact(dropTombstoned)-then-re-add revives") {
    val c = corpus(300, seed = 61)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 7L).as[(Long, Array[Float])].head()._2
    Hnsw.deleteFromLayout(spark, dir, Seq(7L), tag = "t1")
    val readd = c.filter(col("vec_id") === 7L)
      .select(col("vec_id"), col("embedding"))
    // the global tombstone mask would silently hide the re-add
    val e = intercept[IllegalArgumentException] {
      Hnsw.appendDelta(spark, dir, readd, tag = "re", p)
    }
    assert(e.getMessage.contains("tombstoned"))
    // supported revival: physical reclaim, then re-add
    Hnsw.compactDeltas(spark, dir, p, dropTombstoned = true)
    assert(Hnsw.tombstonedIds(spark, dir).isEmpty)
    Hnsw.appendDelta(spark, dir, readd, tag = "re", p)
    val got = Hnsw.searchLayoutDeltaAware(spark, dir, q, 5, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.count(_ == 7L) == 1 && got.head == 7L,
      s"revived id must be served exactly once at rank 1, got $got")
  }

  test("delta append: searchable immediately, redelivery idempotent, compaction invariant") {
    val c = corpus(300, seed = 41)
    val p = Hnsw.Params(m = 6, efConstruction = 32, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 9L).as[(Long, Array[Float])].head()._2
    // plant 4 copies of the query vector as an appended batch
    val batch = c.filter(col("vec_id") === 9L)
      .crossJoin(spark.range(4))
      .select((col("id") + 5000000L).as("vec_id"), col("embedding"))
    Hnsw.appendDelta(spark, dir, batch, tag = "b0", p)
    Hnsw.appendDelta(spark, dir, batch, tag = "b0", p) // redelivery: same tag overwrites
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)) == Seq("b0"))
    val got = Hnsw.searchLayoutDeltaAware(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    // 5 dist-0 rows (the original + 4 planted), ids ascending first
    assert(got.take(5) == Seq(9L, 5000000L, 5000001L, 5000002L, 5000003L),
      s"append must surface immediately and exactly once: $got")
    // compaction: canonical rebuild, identical probe result, deltas gone
    Hnsw.compactDeltas(spark, dir, p)
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)).isEmpty)
    val after = Hnsw.searchLayoutDeltaAware(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(after == got, "mid-stream compaction must be invisible to probe results")
    // the refreshed fingerprint matches a fresh ensure over the union:
    // no rebuild (sidecar untouched)
    val sidecar = java.nio.file.Paths.get(dir, "_hnsw_sidecar.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    Hnsw.ensureLayout(c.select(col("vec_id"), col("embedding")).unionAll(batch), dir, p)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0,
      "post-compaction fingerprint must equal the union corpus ensure")
  }

  test("auto-compaction policy bounds the delta fan-out") {
    val c = corpus(200, seed = 43)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    // three appends under a maxDeltaDirs=2 policy (the streaming
    // foreachBatch shape, driven directly)
    (0 until 3).foreach { i =>
      val b = c.filter(col("vec_id") === i.toLong)
        .select((col("vec_id") + 6000000L + i).as("vec_id"), col("embedding"))
      if (MutableStore.deltaTags(Hnsw.layoutOf(dir)).size >= 2) Hnsw.compactDeltas(spark, dir, p)
      Hnsw.appendDelta(spark, dir, b, tag = s"t$i", p)
    }
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)).size <= 2, s"deltas: ${MutableStore.deltaTags(Hnsw.layoutOf(dir))}")
    // every appended id still searchable
    val q = c.filter(col("vec_id") === 0L).as[(Long, Array[Float])].head()._2
    val got = Hnsw.searchLayoutDeltaAware(spark, dir, q, 5, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.contains(6000000L), s"compacted append lost: $got")
  }

  test("autoParts: floors at 4, scales linearly with corpus bytes, matches the header estimate") {
    assert(Hnsw.autoParts(2000, 64) == 4, "fixture-scale corpora keep the historical 4")
    assert(Hnsw.autoParts(0, 64) == 4)
    // 1B x 64d ~ the ~2000-part regime the scaladoc estimates
    val big = Hnsw.autoParts(1000000000L, 64)
    assert(big > 1000 && big < 10000, s"1B x 64d -> $big")
    // monotone in rows; halving the shard budget doubles the parts
    assert(Hnsw.autoParts(2000000L, 64) <= Hnsw.autoParts(4000000L, 64))
    val once = Hnsw.autoParts(100000000L, 64)
    val twice = Hnsw.autoParts(100000000L, 64, targetShardBytes = 32L << 20)
    assert(twice >= 2 * once - 2 && twice <= 2 * once + 2, s"$once vs $twice")
  }

  test("shard-integrity enforcement: a shard split across scan tasks fails loudly, not silently") {
    val c = corpus(600, seed = 61)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dirA = java.nio.file.Files.createTempDirectory("hnswok").toString
    Hnsw.ensureLayout(c, dirA, p)
    // forge a layout whose shard rows SPAN files (the exact state a
    // too-big shard file reaches when the scan splits it): same rows,
    // same sidecars, but scrambled across 6 parquet files
    val dirB = java.nio.file.Files.createTempDirectory("hnswsplit").toString
    Hnsw.layout(spark, dirA).repartition(6)
      .write.mode("overwrite").parquet(s"$dirB/layout")
    for (f <- Seq("_hnsw_sidecar.json"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dirA, f), java.nio.file.Paths.get(dirB, f))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirA, "layout", "_graft_part_counts.json"),
      java.nio.file.Paths.get(dirB, "layout", "_graft_part_counts.json"))
    val q = c.filter(col("vec_id") === 3L).as[(Long, Array[Float])].head()._2
    // one task per file so each task holds a strict subset of each shard
    val confs = Seq("spark.sql.files.maxPartitionBytes" -> "2048",
      "spark.sql.files.openCostInBytes" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ex = intercept[Exception] {
        Hnsw.searchLayout(spark, dirB, q, 10, p).collect()
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("SPLIT across scan tasks"), s"wrong failure: $msgs")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the intact layout under the restored default config passes the
    // same check and serves the exact answer
    val ok = Hnsw.searchLayout(spark, dirA, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(ok.head == 3L)
  }

  test("compactDeltas excludeTags: the redelivered batch's own delta is never folded into the base") {
    val c = corpus(200, seed = 71)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnswexcl").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 0L).as[(Long, Array[Float])].head()._2
    val older = c.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    // the current batch: 3 copies of the query vector — any
    // double-insert surfaces at the TOP of the ranking
    val current = c.filter(col("vec_id") === 0L)
      .crossJoin(spark.range(3))
      .select((col("id") + 7500000L).as("vec_id"), col("embedding"))
    Hnsw.appendDelta(spark, dir, older, tag = "a", p)
    Hnsw.appendDelta(spark, dir, current, tag = "b", p) // the crashed attempt's delta
    // redelivery replays the foreachBatch body: compaction MUST skip
    // the current tag, then the append rewrites it
    Hnsw.compactDeltas(spark, dir, p, excludeTags = Set("b"))
    assert(MutableStore.deltaTags(Hnsw.layoutOf(dir)) == Seq("b"), "excluded delta must survive the fold")
    Hnsw.appendDelta(spark, dir, current, tag = "b", p)
    val got = Hnsw.searchLayoutDeltaAware(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == got.distinct, s"double-inserted ids in the ranking: $got")
    assert(got.take(4) == Seq(0L, 7500000L, 7500001L, 7500002L),
      s"each planted copy exactly once at the top: $got")
  }

  test("tombstones ride a broadcast: a 100k-id delete volume probes correctly") {
    val c = corpus(300, seed = 81)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnswbigdel").toString
    Hnsw.ensureLayout(c, dir, p)
    val q = c.filter(col("vec_id") === 10L).as[(Long, Array[Float])].head()._2
    val before = Hnsw.searchLayout(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    // two live ids + 100k ids the corpus never contained, in ONE bulk
    // request: the presence filter must drop every phantom (a phantom
    // tombstone would poison a later legitimate add of that id through
    // the append guard) while the request-sized id set rides a
    // broadcast semi-join, never an isin literal
    val dead = Seq(before.head, before(1)) ++ (1000000L until 1100000L)
    Hnsw.deleteFromLayout(spark, dir, dead, tag = "bulk")
    assert(Hnsw.tombstonedIds(spark, dir) == Set(before.head, before(1)),
      "phantom deletes must be ignored; only live ids become tombstones")
    val after = Hnsw.searchLayout(spark, dir, q, 10, p)
      .select("vec_id").as[Long].collect().toSeq
    assert(!after.contains(before.head) && !after.contains(before(1)))
    val exact = exactTopK(c, q, 12).filterNot(Set(before.head, before(1))).take(10)
    assert(after == exact, s"post-bulk-delete ranking: $after vs $exact")
  }

  test("HNSW coarse quantizer agrees with the exact centroid argmin on seeded layouts") {
    val c = corpus(400, seed = 51).withColumn("label", lit(1))
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfcoarse").toString
    val layout = graft.index.Ivf.buildLayout(spark, c, dir, nlist = 8, maxIter = 3)
    val vecs = c.as[(Long, Array[Float])].collect()
    vecs.take(50).foreach { case (id, v) =>
      val exact = graft.index.Ivf.probeClustersOf(layout.centroids, v, 2)
      val graph = graft.index.Ivf.probeClustersHnsw(layout, v, 2)
      assert(graph == exact, s"query $id: graph $graph vs exact $exact")
    }
  }

  test("multi-query candidates: per query at most parts*k rows, each query served") {
    val c = corpus(300, seed = 5)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString
    Hnsw.ensureLayout(c, dir, p)
    val vecs = c.filter(col("vec_id").isin(1L, 2L, 3L)).as[(Long, Array[Float])].collect()
    val cands = Hnsw.searchCandidates(Hnsw.layout(spark, dir), vecs.map(v => (v._1, v._2)).toSeq, 5, p)
    val perQ = cands.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(perQ.keySet == Set(1L, 2L, 3L))
    perQ.values.foreach(n => assert(n <= 3L * 5L))
  }

  test("batch layout probe: per-query results equal the single-query probe and exact top-k") {
    val c = corpus(500, seed = 9)
    val p = Hnsw.Params(m = 8, efConstruction = 64, parts = 3)
    val dir = java.nio.file.Files.createTempDirectory("hnswb").toString
    Hnsw.ensureLayout(c, dir, p)
    val qs = c.filter(col("vec_id") < 4).as[(Long, Array[Float])].collect()
      .sortBy(_._1).toSeq
    val batch = Hnsw.searchLayoutBatch(spark, dir, qs, k = 10, p, efSearch = 64)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(batch.length == qs.length * 10)
    qs.foreach { case (qid, q) =>
      val mine = batch.filter(_._1 == qid).sortBy(_._4).map(_._2)
      // equals the single-query probe over the same layout…
      val single = Hnsw.searchLayout(spark, dir, q, 10, p, efSearch = 64)
        .select("vec_id").as[Long].collect().toSeq
      assert(mine == single, s"query $qid: batch != single probe")
      // …and the exact ranking on this seeded corpus
      assert(mine == exactTopK(c, q, 10), s"query $qid: batch != exact")
    }
  }

  test("a corrupt sidecar fails the probe loudly instead of resolving the v=0 legs") {
    val c = corpus(120, seed = 53)
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw_torn").toString
    Hnsw.ensureLayout(c, dir, p)
    val batch = c.filter(col("vec_id") < 3L)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    Hnsw.appendDelta(spark, dir, batch, tag = "a1", p)
    Hnsw.compactDeltas(spark, dir, p)
    val q = c.filter(col("vec_id") === 1L).as[(Long, Array[Float])].head()._2
    assert(Hnsw.searchLayoutDeltaAware(spark, dir, q, 5, p).count() == 5)
    // v=0 would serve the superseded `layout` plus the folded delta
    // (duplicates) while lagged GC keeps them, and fail once it drops them
    graft.io.Artifact.writeAtomic(java.nio.file.Paths.get(dir, "_hnsw_sidecar.json"), "{torn")
    val e = intercept[IllegalStateException] {
      Hnsw.searchLayoutDeltaAware(spark, dir, q, 5, p).collect()
    }
    assert(e.getMessage.contains("corrupt store state"), e.getMessage)
  }

  test("a null id fails the build with a message naming the id column") {
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    val dir = java.nio.file.Files.createTempDirectory("hnsw_nullid").toString
    Hnsw.ensureLayout(corpus(40, seed = 59), dir, p)
    val batch = Seq((Some(9000000L), Array.fill(dim)(0.1f)), (None, Array.fill(dim)(0.2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception](Hnsw.appendDelta(spark, dir, batch, tag = "n1", p))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("vec_id")), msgs.mkString("\n"))
    assert(!msgs.exists(_.contains("NOT_NULL_ASSERT_VIOLATION")), msgs.mkString("\n"))
  }
}
