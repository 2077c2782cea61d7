package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.index.Ivf
import graft.ops.VectorSearch

/** Plan-shape audits: the properties that make these operators survive a
  * 100 TB corpus are pinned here as assertions on the physical plan, so
  * a refactor that silently un-pushes a filter or turns a broadcast into
  * a shuffle fails the build.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("hybrid search pushes the metadata predicate into the parquet scan") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val plan = VectorSearch.knnExactDf(corpus.filter(col("label") === 3), query, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]"),
      s"label predicate not pushed to scan:\n$plan")
  }

  test("point lookup pushes the id predicate into the parquet scan") {
    val plan = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 42)
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(vec_id,42)"), s"id predicate not pushed:\n$plan")
  }

  test("exact kNN plans as TakeOrderedAndProject (bounded per-partition heap, no global sort)") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = VectorSearch.knnExact(corpus, Seq.fill(64)(0.1f), k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort crept in:\n$plan")
  }

  test("kNN join broadcasts the query side, never shuffles the corpus for the join") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val plan = VectorSearch.knnJoin(queries, corpus, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
  }

  test("IVF partitioned layout turns cluster probes into partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_plan").toString
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4)
    val query = Array.fill(64)(0.1f)
    // the persisted-layout probe path (what the declared queries use)
    val df = Ivf.searchLayout(spark, layout, query, k = 5, nprobe = 1)
    val scan = df.queryExecution.executedPlan.toString
    // the cluster IN (...) predicate must land in PartitionFilters, not a
    // post-scan Filter — that is what makes a probe read nprobe/nlist of
    // the data
    assert(scan.contains("PartitionFilters: [isnotnull(cluster") ||
           scan.contains("PartitionFilters: [cluster"),
      s"cluster predicate not pruning partitions:\n$scan")
  }

  test("bucketed tables join on id with zero exchange (co-located join)") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    graft.ops.VectorCrud.writeBucketed(corpus, "graft_bucket_vec", 8, "vec_id")
    graft.ops.VectorCrud.writeBucketed(
      corpus.select(col("vec_id"), size(col("embedding")).as("dim")),
      "graft_bucket_meta", 8, "vec_id")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path: with broadcast allowed the planner
      // would (reasonably) broadcast the small side and skip the buckets
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_vec")
        .join(spark.table("graft_bucket_meta"), "vec_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"buckets not used:\n$plan")
      assert(joined.count() == corpus.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_vec")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_meta")
    }
  }

  test("stratified sampling is a pure per-row filter: no exchange, no UDF") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.ops.Sampling
      .stratifiedBernoulli(docs, lit("en"), Map("en" -> 0.2), 1.0, salt = "p")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling filter shuffles:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF crept into sampling:\n$plan")
  }

  test("sequence packing shuffles exactly once (the part repartition)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(10L).as("n_tokens"))
    val plan = graft.ops.Packing.packGreedy(docs, budget = 256L, nParts = 8)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }

  test("hybrid IVF probe prunes partitions AND pushes the label filter into the same scan") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_audit_ivf_hybrid_${ProcessHandle.current().pid()}"
    val layout = Ivf.buildLayout(spark, emb, dir, nlist = 4, maxIter = 2)
    val query = Array.fill(64)(0.1f)
    val plan = Ivf.searchLayoutWhere(spark, layout, query, k = 5, nprobe = 1,
        col("label") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster"),
      s"cluster probe not a partition filter:\n$plan")
    assert(plan.contains("EqualTo(label,3)"),
      s"label predicate not pushed into the layout scan:\n$plan")
  }

  test("epoch upsampling is a per-row map + explode: no shuffle beyond the histogram") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.ops.Sampling.upsampleToMixture(docs, "source",
        Map("src0" -> 0.5, "src1" -> 0.5), maxEpochs = 2, salt = "p")
      .queryExecution.executedPlan.toString
    // the histogram round-trip happens at plan-BUILD time; the emitted
    // plan itself must be shuffle-free (literal thresholds + explode)
    assert(!plan.contains("Exchange"), s"epoch expansion shuffles:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF crept into epoch expansion:\n$plan")
  }

  test("chunk dedup aggregates the first-occurrence table with partial (map-side) aggregation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.dedup.Dedup.chunkDedup(docs, chunkTokens = 25)
      .queryExecution.executedPlan.toString
    // hot boilerplate chunks must collapse map-side: the min(occ_key)
    // groupBy needs a partial_min before its exchange
    assert(plan.contains("partial_min"), s"first-occurrence MIN not partial:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"chunk join degenerated:\n$plan")
  }

  test("curation's final keep-set subtraction broadcasts the loser ids (via AQE)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.text.Curation.curate(docs)
    // the loser side is a checkpointed RDD scan with no stats, so the
    // static plan is a sort-merge join; AQE must flip it to broadcast
    // once the true (tiny) size is known — assert on the FINAL plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"AQE final plan missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"loser-id anti-join not broadcast at runtime:\n$plan")
  }

  test("events_top3_hourly plans the bounded row_topk aggregate, not a per-group sort") {
    // the rewrite is session-level state owned by setupSession (the
    // Bench/Verify mains call it once up front; query thunks must not)
    SparkTestSession.withSetupSession {
      val plan = graft.SparkEntry.queries("events_top3_hourly")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("row_topk"), s"TopKWindowRewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    }
  }

  test("corpus_source_cap plans the bounded row_topk aggregate (per-domain cap at scale)") {
    SparkTestSession.withSetupSession {
      val plan = graft.SparkEntry.queries("corpus_source_cap")(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("row_topk"), s"TopKWindowRewrite did not fire:\n$plan")
      assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    }
  }

  test("events_json_filter parses each props blob exactly once (staged extraction)") {
    val plan = graft.SparkEntry.queries("events_json_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val parses = "get_json_object".r.findAllIn(plan).length
    // one occurrence in the staging Project; a Filter+agg pair that each
    // re-extracts $.k would show 2+ (and parse surviving rows twice)
    assert(parses == 1, s"expected 1 get_json_object, got $parses:\n$plan")
  }

  test("sessionization shuffles once: the session groupBy rides the user window's partitioning") {
    val events = spark.range(1000).selectExpr("id % 50 as user_id",
      "timestamp_micros(cast(id * 1000000 as long)) as ts", "id as event_id")
    val plan = graft.ops.EventAnalytics.sessionize(events, gapSec = 60L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("distance expressions stay codegen (no BatchEvalPython/interpreted eval markers)") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val plan = VectorSearch.knnExactDf(corpus, query, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("l2sq"), s"codegen distance missing:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF crept into the hot path:\n$plan")
  }

  test("classifier scoring broadcasts the weight table and pre-aggregates occurrences") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w = graft.text.TextAnalysis.nbBucketWeights(docs, col("lang") === "en")
    val plan = graft.text.TextAnalysis.classifierScores(docs, w)
      .queryExecution.executedPlan.toString
    // the SCORING join must be a broadcast hash join keyed on the
    // bucket — the occurrence side is never shuffled for the lookup
    // (the weight FIT's own bucket groupBy legitimately shuffles)
    assert(plan.contains("BroadcastHashJoin [bucket"),
      s"weight lookup is not a bucket-keyed broadcast join:\n$plan")
    // occurrence rollup must partial-aggregate map-side before its shuffle
    assert(plan.contains("partial_count"),
      s"no map-side combine before the weight join:\n$plan")
  }

  test("corpus_split joins the persisted cluster artifact (no inline CC recompute)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_split_plan").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cc = graft.dedup.Dedup.clusterArtifact(docs, dir, n = 3, minJaccard = 0.3,
      maxShingleDf = 500L)
    val split = docs.join(cc, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
    val plan = split.queryExecution.executedPlan.toString
    // the artifact side must be a plain parquet scan of the persisted
    // clusters, not the shingle join + iterative closure re-derived.
    // The scanned files, not the plan string: a scan's printed Location
    // is cut at spark.sql.maxMetadataStringLength characters
    assert(split.inputFiles.exists(_.contains(s"$dir/clusters/")),
      s"artifact parquet scan missing:\n${split.inputFiles.mkString("\n")}")
    assert(!plan.contains("shingles") && !plan.contains("posexplode"),
      s"cluster derivation leaked back into the split plan:\n$plan")
  }

  test("events_partitioned_prune reads one partition: the type filter is a PartitionFilter") {
    val plan = graft.SparkEntry.queries("events_partitioned_prune")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"event_type not pruned at the directory level:\n$plan")
    assert(plan.contains("= click)"),
      s"click partition filter missing:\n$plan")
  }

  test("gopher filter is a pure narrow pass: zero exchanges, no UDF") {
    val plan = graft.text.TextAnalysis
      .gopherStats(spark.read.parquet(s"$sfDir/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher stats must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"gopher stats must stay builtin/codegen:\n$plan")
  }

  test("bloom decontamination filters the corpus shingles BEFORE any exchange") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
    val plan = graft.dedup.Dedup
      .crossCorpusOverlapBloom(docs, bench, n = 5, minShared = 2L, maxShingleDf = 500L)
      .queryExecution.executedPlan.toString
    // the map-side kill: a Filter containing the codegen bloom probe
    // must appear, and scanning down from the corpus FileScan the first
    // Filter must precede the first Exchange (text order mirrors
    // child-before-parent within each WholeStageCodegen section)
    assert(plan.contains("bloom_probe"), s"bloom prefilter missing from plan:\n$plan")
    // the probe is a native expression — no Scala UDF eval layer left
    // anywhere on the bloom path
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom path must stay codegen:\n$plan")
    val probeIdx = plan.indexOf("bloom_probe")
    val firstExchangeAbove = plan.lastIndexOf("Exchange", probeIdx)
    // every Exchange that textually precedes the probe filter belongs to
    // a parent operator (toString prints parents first), so none of the
    // shingle volume flows through an Exchange before the bloom filter
    assert(firstExchangeAbove == -1 || plan.indexOf("FileScan", firstExchangeAbove) > probeIdx ||
      plan.substring(probeIdx).contains("FileScan"),
      s"bloom prefilter not map-side before the shuffle:\n$plan")
  }

  test("knn_classify broadcasts the neighbor table, never shuffles the corpus for labels") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
    val plan = VectorSearch.knnClassify(queries, corpus, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"neighbor table must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"label pickup must not shuffle the corpus:\n$plan")
  }

  test("token-budget selection shuffles once (the per-source window)") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.text.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val plan = graft.ops.Sampling.tokenBudgetPerGroup(d, col("source"),
        Seq(col("doc_id").asc), col("n_tokens"), budget = 600L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$plan")
  }

  test("phrase rewrite through the fused kernel is map-only: no exchange, no HOF") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.text.TextAnalysis.phraseRewriteWith(d,
        Seq("merge sort", "hash join"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rewrite must not shuffle:\n$plan")
    assert(plan.contains("phrase_merge"), s"fused kernel missing from plan:\n$plan")
    assert(!plan.toLowerCase.contains("aggregate("),
      s"no HOF fold may remain in the hot path:\n$plan")
  }

  test("BPE vocabulary aggregate partial-combines map-side") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val rounds = Seq(Seq(("e", "r"), ("t", "h")))
    val plan = graft.text.Bpe.vocabAfterRounds(d, rounds, topK = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"vocab aggregate must partial-combine before the shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-K cut must be a bounded TakeOrdered, not a global sort:\n$plan")
  }

  test("external-list BPE apply broadcasts the word cache; no interpreted fold in the plan") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.text.Bpe.applyMergesRanked(
      d, graft.text.Bpe.externalFixtureMerges(), maxIters = 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"word-cache side must broadcast into the positional join:\n$plan")
    // the 1.1k rules run inside ONE codegen kernel: no aggregate-HOF
    // fold layers and no materialized intermediates in the apply path
    assert(!plan.contains("ExistingRDD"),
      s"ranked apply must not materialize vocab chains:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython"),
      s"no interpreted eval in the kernel path:\n$plan")
  }

  test("unigram id emission + decode broadcast the word cache and stay codegen kernels") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = Seq(("▁th", 50L), ("e", 40L), ("▁a", 30L), ("n", 20L))
    val ids = graft.text.Unigram.tokenIdsByteFallback(d, vocab, marker = true)
    val rt = graft.text.Unigram.detokenize(ids, vocab)
    // formatted mode: the probe-or-expand kernel lives in the word
    // cache aggregate's RESULT expressions, which node toString elides
    val plan = rt.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the Viterbi + probe-or-expand + decode kernels are all present
    // as native expressions, and the word cache broadcasts into the
    // positional join — nothing interpreted, nothing vocab-shuffled
    assert(plan.contains("byte_fallback_ids"), s"fallback kernel missing:\n$plan")
    assert(plan.contains("unigram_decode"), s"decode kernel missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"word-cache side must broadcast into the positional join:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython"),
      s"no interpreted eval on the unigram path:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"no ScalaUDF on the unigram path:\n$plan")
  }

  test("wordpiece greedy + ids broadcast the word cache and stay codegen kernels") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = graft.text.WordPiece.externalFixtureVocab()
    val df = graft.text.WordPiece.tokenIdsExternal(d, vocab)
    // formatted mode: the kernels live in the word cache aggregate's
    // result expressions, which node toString elides
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("wordpiece_greedy"), s"greedy kernel missing:\n$plan")
    assert(plan.contains("vocab_ids"), s"hashed id probe missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"word-cache side must broadcast into the positional join:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython"),
      s"no interpreted eval on the wordpiece path:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"no ScalaUDF on the wordpiece path:\n$plan")
  }

  test("hamming top-k scans only the 8-byte signatures: narrow project + bounded heap") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val thr = graft.index.Binary.fitThresholds(corpus, 64)
    val sigs = graft.index.Binary.signatures(corpus, thr)
    val plan = graft.index.Binary.hammingTopK(sigs, 12345L, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not bounded:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort crept in:\n$plan")
    assert(plan.contains("bit_count"), s"hamming must be the codegen bit_count:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batchevalpython"),
      s"signature/hamming path must stay codegen:\n$plan")
  }

  test("KN scoring broadcasts the four model tables and partial-combines the doc sums") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.text.TextAnalysis.knBigramScores(d, d.filter(col("lang") === "en"))
    val plan = df.queryExecution.executedPlan.toString
    // the three keyed model joins ship broadcast (the DSIR shape);
    // consts rides a 1-row broadcast nest
    assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 3,
      s"model tables must broadcast:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"doc sums must partial-combine map-side:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"KN path must stay declarative:\n$plan")
  }

  test("quantized kmeans: assignment is a pure narrow map over centroid literals") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.ops.QuantKMeans.fitCentroids(e, k = 2, iters = 1, dim = 64)
    assert(cents.length == 2)
    val df = graft.ops.QuantKMeans.assignments(e, cents, dim = 64)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the assignment stage must not shuffle (centroids are literals):\n$plan")
    assert(!plan.contains("ScalaUDF"), s"assignment must stay codegen:\n$plan")
  }

  test("sft masking: word-cache broadcast, no UDF, one conversation shuffle") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.text.Sft.maskedTokenIds(d,
      graft.text.ByteLevel.externalFixtureMerges())
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the (word -> ids) cache must broadcast:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batchevalpython"),
      s"masking must stay array expressions:\n$plan")
  }

  test("hnsw probe: candidate merge is a bounded TakeOrdered, no cartesian, no global sort") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hnsw_plan").toString
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = graft.index.Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    graft.index.Hnsw.ensureLayout(corpus, dir, p)
    val df = graft.index.Hnsw.searchLayout(spark, dir, Array.fill(64)(0.1f), 10, p)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"merge not bounded:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian crept in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), s"global sort crept in:\n$plan")
  }

  test("delta-aware IVF probe prunes partitions on the BASE and every DELTA scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_delta_plan").toString
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4)
    Ivf.appendDelta(layout,
      corpus.filter(col("vec_id") < 3).select(
        (col("vec_id") + 7000000L).as("vec_id"), col("embedding"), col("label")),
      "plan_b0")
    val df = Ivf.searchLayoutDeltaAware(
      spark, layout, Array.fill(64)(0.1f), k = 5, nprobe = 1)
    val scan = df.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[.{0,20}cluster".r
      .findAllMatchIn(scan).size
    assert(pruned >= 2,
      s"cluster predicate must prune BOTH the base and the delta scan (found $pruned):\n$scan")
  }

  test("signature near-dup pairs ride the banded join: no cartesian product, codegen hamming") {
    import spark.implicits._
    val sigs = List.range(0L, 200L).map(i => (i, i * 0x9e3775b9L))
      .toDF("media_id", "sig")
    val plan = graft.dedup.Dedup
      .sigNearDups(sigs, maxHamming = 3, idCol = "media_id", sigCol = "sig")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded join degenerated to all-pairs:\n$plan")
    assert(plan.contains("bit_count"), s"hamming must be codegen bit_count:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"signature path must stay codegen:\n$plan")
  }

  test("incremental sig-store probe broadcasts the batch-bounded sides, never the store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_sigstore").toString
    graft.dedup.Dedup.ensureSigStore(spark,
      List.range(0L, 500L).map(i => (i, i * 0x9e3775b9L)).toDF("media_id", "sig"), dir)
    val batch = List.range(1000L, 1020L).map(i => (i, i)).toDF("media_id", "sig")
      .select(col("media_id").as("b_id"), col("sig"))
    // the verdict pipeline pre-checkpoint (incrementalSigDedupBatch
    // materializes through localCheckpoint, which hides the join from
    // the returned plan): band probe → min-match agg → broadcast back
    val store = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    val matches = graft.dedup.Dedup
      .sigNearDupsAgainst(batch, store, 3, "b_id", "s_id")
      .groupBy(col("b_id"))
      .agg(min(struct(col("hamming"), col("s_id"))).as("m"))
    val plan = batch
      .join(org.apache.spark.sql.functions.broadcast(matches), Seq("b_id"), "left")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"batch-bounded matches must broadcast onto the batch:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"store probe went all-pairs:\n$plan")
  }

  test("MMR shortlist stage is a bounded TakeOrderedAndProject over the corpus scan") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // pin the DISTRIBUTED stage (relevance + shortlist cut): the greedy
    // re-rank consumes only the collected bounded rows
    val plan = corpus
      .select(col("vec_id"),
        graft.functions.Distances.cosine(col("embedding"),
          lit(Array.fill(64)(0.1f))).as("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"shortlist stage must be the bounded heap:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort crept into the shortlist stage:\n$plan")
  }

  test("KN span scrub: model tables broadcast, window sums partial-combine, no UDF") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = graft.text.TextAnalysis
      .knSpanScrub(d, d.filter(col("lang") === "en"), windowTokens = 32)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 3,
      s"model tables must broadcast:\n$plan")
    assert(plan.contains("partial_sum"), s"window sums must partial-combine:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"scrub path must stay declarative:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"scrub path went all-pairs:\n$plan")
  }

  test("fuzzy lookup: probe side broadcasts, levenshtein stays codegen, no all-pairs") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val probes = cust.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("pid"), col("c_name").as("pname"))
    val plan = graft.ops.FuzzyJoin.fuzzyLookup(
        cust.select(col("c_custkey"), col("c_name")), probes,
        "c_custkey", "c_name", "pid", "pname", maxDist = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe side must broadcast:\n$plan")
    assert(plan.contains("levenshtein"), s"distance must be the codegen built-in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must prevent all-pairs:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"fuzzy path must stay codegen:\n$plan")
  }

  test("fuzzy self-pairs: deletion-signature equi-join, never a cartesian product") {
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"))
    val plan = graft.ops.FuzzyJoin.fuzzySelfPairs(cust, "c_custkey", "c_name", maxDist = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"self-join must ride the signature equi-key:\n$plan")
    assert(plan.contains("levenshtein"), s"distance must be the codegen built-in:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"fuzzy path must stay codegen:\n$plan")
  }

  test("LR features are one narrow map pass; the gradient agg partial-combines") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = graft.text.LogReg.topVocab(d, 4)
    val feats = graft.text.LogReg.features(d, vocab, col("lang") === "en")
    val fplan = feats.queryExecution.executedPlan.toString
    assert(!fplan.contains("Exchange"),
      s"feature extraction must not shuffle (vocab is a plan literal):\n$fplan")
    assert(!fplan.contains("ScalaUDF"), s"features must stay codegen:\n$fplan")
    val scored = graft.text.LogReg.scores(feats, Array.fill(vocab.length + 1)(1000L))
    val splan = scored.queryExecution.executedPlan.toString
    assert(!splan.contains("Exchange"), s"scoring must stay a narrow map:\n$splan")
    val gplan = feats.agg(
        sum(floor(lit(1e6) * ((col("y") - lit(0.5)) * col("x00")))).as("g"))
      .queryExecution.executedPlan.toString
    assert(gplan.contains("partial_sum"),
      s"gradient reduction must partial-combine map-side:\n$gplan")
    // the selection cut is a bounded heap, never a global sort
    val cut = graft.text.LogReg.scores(feats, Array.fill(vocab.length + 1)(1000L))
      .select(col("doc_id"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc).limit(100)
      .queryExecution.executedPlan.toString
    assert(cut.contains("TakeOrderedAndProject"),
      s"classifier selection must be the bounded heap:\n$cut")
  }

  test("SQL surface: spark.sql kNN through registered l2sq plans the bounded heap") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .createOrReplaceTempView("embeddings_pin_v")
    val plan = spark.sql(
      """SELECT e.vec_id, l2sq(e.embedding, q.qe) AS dist
        |FROM embeddings_pin_v e CROSS JOIN
        |     (SELECT embedding AS qe FROM embeddings_pin_v WHERE vec_id = 0) q
        |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"SQL top-k must plan the bounded heap:\n$plan")
    assert(plan.contains("l2sq"), s"registered codegen kernel missing:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"SQL path must stay codegen:\n$plan")
  }

  test("SQL surface: one-statement BM25/phrase/substring bucket-prune like the API paths") {
    // the declared sql_* retrieval queries must read ONLY the query
    // terms' buckets of the persisted index tables — the same
    // SelectedBucketsCount shape InvertedIndexSpec pins for the API
    // path, here asserted on the spark.sql plans end to end
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    // the substring BATCH's needle-union trigram set legitimately hashes
    // into every bucket at this fixture (≈25 distinct trigrams over 8
    // buckets) — there the pin is the pruned-scan FORM + pushed filter,
    // not a strict bucket subset
    val subsetExempt = Set("sql_substring_batch")
    for (name <- Seq("sql_bm25_topk", "sql_phrase_search", "sql_substring_search",
        "sql_bm25_batch", "sql_phrase_batch", "sql_substring_batch")) {
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val ms = sel.findAllMatchIn(plan).toSeq
      assert(ms.nonEmpty, s"$name: no bucket pruning in plan:\n$plan")
      if (!subsetExempt(name))
        ms.foreach(m => assert(m.group(1).toInt < m.group(2).toInt,
          s"$name read every bucket (${m.group(1)}/${m.group(2)}):\n$plan"))
      assert(!plan.contains("ScalaUDF"), s"$name must stay codegen:\n$plan")
    }
  }

  test("SQL surface: proximity self-join bucket-prunes; fuzzy lookup broadcasts, no cartesian") {
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
    for (name <- Seq("sql_proximity_search", "sql_proximity_batch")) {
      val prox = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val ms = sel.findAllMatchIn(prox).toSeq
      assert(ms.nonEmpty, s"$name: no bucket pruning in plan:\n$prox")
      ms.foreach(m => assert(m.group(1).toInt < m.group(2).toInt,
        s"$name read every bucket (${m.group(1)}/${m.group(2)}):\n$prox"))
      assert(!prox.contains("ScalaUDF"), s"must stay codegen:\n$prox")
    }

    // the SQL batch IVF route must plan its cluster IN union as a
    // PARTITION filter on the layout scan (file-level pruning)
    val ivfb = graft.SparkEntry.queries("sql_ivf_batch")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(ivfb.contains("PartitionFilters: [") && ivfb.contains("cluster"),
      s"sql_ivf_batch: cluster IN must be a partition filter:\n$ivfb")
    assert(!ivfb.contains("ScalaUDF"), s"must stay codegen:\n$ivfb")

    // the SQL blocking path must be a broadcast equi-join on the
    // signature — never the oracle's all-pairs cross product
    val fz = graft.SparkEntry.queries("sql_fuzzy_lookup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(fz.contains("BroadcastHashJoin"),
      s"sql_fuzzy_lookup: probe side must broadcast:\n$fz")
    assert(!fz.contains("CartesianProduct"),
      s"sql_fuzzy_lookup must never plan all-pairs:\n$fz")
    assert(!fz.contains("ScalaUDF"), s"must stay codegen:\n$fz")
  }
}
