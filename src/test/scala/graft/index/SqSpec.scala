package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.ops.VectorSearch
import graft.io.MutableStore

class SqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private lazy val corpus = {
    val rng = new scala.util.Random(37)
    (0L until 400L).map(i => (i, Array.fill(dim)(rng.nextFloat() * 4f - 2f)))
      .toDF("vec_id", "embedding")
  }

  test("fit is the exact per-dim min/max and partitioning-invariant") {
    val m = Sq.fit(corpus)
    assert(m.dim == dim)
    val rows = corpus.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    for (d <- 0 until dim) {
      assert(m.vmin(d) == rows.map(_(d)).min, s"dim $d vmin")
      assert(m.vmax(d) == rows.map(_(d)).max, s"dim $d vmax")
    }
    val m2 = Sq.fit(corpus.repartition(7))
    assert(m.vmin.sameElements(m2.vmin) && m.vmax.sameElements(m2.vmax),
      "min/max must be order-independent")
  }

  test("encode: one byte per dim, bounds map to 0/255, reconstruction error within half a cell") {
    val m = Sq.fit(corpus)
    val codes = Sq.encode(corpus, m).as[(Long, Array[Byte])].collect().toMap
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    assert(codes.values.forall(_.length == dim))
    vecs.foreach { case (id, v) =>
      val c = codes(id)
      for (d <- 0 until dim) {
        val lo = m.vmin(d).toDouble; val hi = m.vmax(d).toDouble
        val cell = (hi - lo) / 255.0
        val recon = lo + (c(d) & 0xFF) * cell
        assert(math.abs(recon - v(d)) <= cell / 2 + 1e-9,
          s"vec $id dim $d: recon $recon vs ${v(d)} (cell $cell)")
        // the extreme values must hit the code range's ends
        if (v(d) == m.vmin(d)) assert((c(d) & 0xFF) == 0)
        if (v(d) == m.vmax(d)) assert((c(d) & 0xFF) == 255)
      }
    }
  }

  test("encode handles a degenerate (constant) dimension without dividing by zero") {
    val flat = (0L until 50L).map(i => (i, Array.fill(4)(1.5f)))
      .toDF("vec_id", "embedding")
    val m = Sq.fit(flat)
    val codes = Sq.encode(flat, m).as[(Long, Array[Byte])].collect()
    assert(codes.forall(_._2.forall(_ == 0.toByte)))
    // and the ADC table reconstructs the constant exactly
    val t = Sq.adcTable(m, Array.fill(4)(1.5f))
    assert(t(0) == 0.0)
  }

  test("ADC search: self-query first at distance 0; rerank equals exact top-k") {
    val m = Sq.fit(corpus)
    val enc = Sq.encode(corpus, m)
    val q = corpus.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val adc = Sq.search(enc, m, q, 10).collect()
    assert(adc.length == 10)
    assert(adc.head.getLong(0) == 7L, "self-query must rank first under ADC")

    val reranked = Sq.searchRerank(enc, corpus, m, q, k = 10, shortlist = 50)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knnExact(corpus, q.toSeq, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(reranked == exact, "SQ8 shortlist + exact rerank must equal exact top-k")
  }

  test("ADC scan plans the bounded heap through the codegen kernel, no UDF") {
    val m = Sq.fit(corpus)
    val enc = Sq.encode(corpus, m)
    val q = corpus.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val plan = Sq.search(enc, m, q, 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"bounded heap missing:\n$plan")
    assert(plan.contains("pq_adc"), s"codegen ADC kernel missing:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"must stay codegen:\n$plan")
  }

  test("codes artifact + deltas: append under the fixed model, redelivery idempotent, compaction invariant") {
    val artDir = java.nio.file.Files.createTempDirectory("sq8art").toString
    Sq.ensureCodesArtifact(corpus, artDir)
    val model = Sq.modelFromArtifact(spark, artDir)
    assert(model.dim == dim)
    val b1 = corpus.filter(col("vec_id") < 3)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"))
    val b2 = corpus.filter(col("vec_id") >= 3 && col("vec_id") < 5)
      .select((col("vec_id") + 9100000L).as("vec_id"), col("embedding"))
    Sq.appendDelta(spark, artDir, b1, tag = "b1")
    Sq.appendDelta(spark, artDir, b1, tag = "b1") // redelivery: same tag overwrites
    Sq.appendDelta(spark, artDir, b2, tag = "b2")
    assert(MutableStore.deltaTags(Sq.layoutOf(artDir)).size == 2)
    val union = corpus.unionAll(b1).unionAll(b2)
    val q = corpus.filter(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val before = Sq.searchRerank(Sq.codesWithDeltas(spark, artDir), union,
      model, q, k = 10, shortlist = 50).as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knnExact(union, q.toSeq, 10)
      .as[(Long, Double)].collect().toSeq
    assert(before == exact, "delta-aware ADC + rerank must equal exact over the union")
    // planted copy of vec 1 at 9000001 must appear at dist 0
    assert(before.count(_._2 == 0.0) >= 2)
    // compaction: excluded tag survives, full fold is probe-invariant,
    // and the merged fingerprint equals a fresh ensure over the union
    Sq.compactDeltas(spark, artDir, excludeTags = Set("b2"))
    assert(MutableStore.deltaTags(Sq.layoutOf(artDir)).size == 1)
    Sq.compactDeltas(spark, artDir)
    assert(MutableStore.deltaTags(Sq.layoutOf(artDir)).size == 0)
    val after = Sq.searchRerank(Sq.codesWithDeltas(spark, artDir), union,
      model, q, k = 10, shortlist = 50).as[(Long, Double)].collect().toSeq
    assert(after == before, "compaction must be invisible to probe results")
    val sidecar = java.nio.file.Paths.get(artDir, "_sq8_codes.json")
    val t0 = java.nio.file.Files.getLastModifiedTime(sidecar)
    Sq.ensureCodesArtifact(union, artDir)
    assert(java.nio.file.Files.getLastModifiedTime(sidecar) == t0,
      "post-compaction fingerprint must equal the union-corpus ensure (no rebuild)")
  }

  test("IVF-SQ8: probe prunes partitions before the ADC scan; rerank equals exact") {
    val ivf = Ivf.fit(corpus, nlist = 4, maxIter = 3)
    val m = Sq.fit(corpus)
    val dir = java.nio.file.Files.createTempDirectory("ivfsq").toString
    Sq.writeIvfSqCodes(ivf, m, corpus, dir)
    val q = corpus.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // nprobe < nlist: the scan must read only the probed clusters
    val pruned = Sq.searchIvfSq(spark, dir, ivf, m, q, shortlist = 20, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("pq_adc"), s"codegen ADC kernel missing:\n$plan")
    // partition pruning: the cluster IN filter reaches the scan
    assert(plan.contains("cluster"), s"cluster predicate missing:\n$plan")
    // at nprobe=nlist the shortlist covers everything: rerank == exact
    val short = Sq.searchIvfSq(spark, dir, ivf, m, q, shortlist = 100, nprobe = 4)
    val reranked = Pq.rerankShortlist(short, corpus, q, k = 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.knnExact(corpus, q.toSeq, 10)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    assert(reranked == exact)
  }

  test("batch probe equals per-query searchRerank; one codes scan, no UDF") {
    val m = Sq.fit(corpus)
    val enc = Sq.encode(corpus, m).localCheckpoint()
    val queries = (0L until 3L).map { qid =>
      qid -> corpus.filter(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Float](0).toArray
    }
    val df = Sq.searchRerankBatch(enc, corpus, m, queries, k = 5, shortlist = 60)
    val got = df.as[(Long, Long, Double, Int)].collect().toSeq
    val want = queries.flatMap { case (qid, q) =>
      Sq.searchRerank(enc, corpus, m, q, k = 5, shortlist = 60)
        .select("vec_id", "dist").as[(Long, Double)].collect()
        .zipWithIndex.map { case ((id, d), i) => (qid, id, d, i + 1) }
    }
    assert(got == want,
      s"batch rows must equal the single-query probes\ngot  $got\nwant $want")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), "batch ADC must stay codegen")
    // the ADC kernel runs inside the ONE materialized scored frame
    // (localCheckpoint truncates its lineage out of the final plan) —
    // assert it on the frame's own plan shape instead
    val scoredPlan = Sq.encode(corpus, m)
      .select(org.apache.spark.sql.graft.VectorExpressions
        .pqAdc(col("codes"), Sq.adcTable(m, queries.head._2), 256).as("d"))
      .queryExecution.executedPlan.toString
    assert(scoredPlan.contains("pq_adc"), "the ADC kernel must appear in the scored-frame plan")
  }

  test("wave compositor: a 66-wide ADC batch equals per-query singles (width cap internalized)") {
    val m = Sq.fit(corpus)
    val enc = Sq.encode(corpus, m).localCheckpoint()
    // 66 > maxBatchWidth=64 → two waves (64 + 2) under the hood
    val queries = (0L until 66L).map { qid =>
      qid -> corpus.filter(col("vec_id") === qid % 10L)
        .select(col("embedding")).head().getSeq[Float](0)
        .zipWithIndex.map { case (x, i) =>
          x + (qid * (i + 1)).toFloat * 1e-3f }.toArray // distinct queries
    }
    intercept[IllegalArgumentException] {
      Sq.searchRerankBatch(enc, corpus, m, queries, k = 3) // cap stays loud
    }
    val got = Sq.searchRerankBatchWaved(enc, corpus, m, queries,
        k = 3, shortlist = 40)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val want = queries.flatMap { case (qid, q) =>
      Sq.searchRerank(enc, corpus, m, q, k = 3, shortlist = 40)
        .select("vec_id", "dist").as[(Long, Double)].collect()
        .zipWithIndex.map { case ((id, d), i) => (qid, id, d, i + 1) }
    }
    assert(got == want, "waved batch rows must equal the single-query probes")
  }

  test("measured recall: SQ8 ADC@10 is at least PQ ADC@10 on the shared fixture") {
    // 4× compression with per-dim resolution must not recall worse
    // than 32× PQ on the same corpus — the ladder's monotonicity
    val r = Recall.measure(corpus, nQueries = 5, k = 10)
    assert(r.sq8 >= r.pq, s"sq8 ${r.sq8} < pq ${r.pq}")
    assert(r.sq8 >= 0.9, s"sq8 ADC recall ${r.sq8} unexpectedly low at dim16/400 rows")
  }
}
