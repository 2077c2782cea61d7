package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench-output contract: the consumer of Bench's stdout sees only
  * the last ~2000 characters and parses the LAST line as JSON. Rounds
  * 1–5 all failed this silently — the single ~4 KB detail line
  * truncated mid-dict and never parsed — so the contract is pinned here
  * by simulating the consumer exactly: full stdout, take the last 2000
  * chars, take the last line, json-parse it.
  */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** Every declared query at a worst-case (6-digit-seconds) timing —
    * the real name set, so the test tracks query-surface growth. */
  private def worstCase: Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.map(k => k -> 99999.999)

  test("final stdout line survives tail -c 2000 + JSON parse with every declared query") {
    val summary = Bench.summaryLine(99999.999, 99999.999, worstCase, "/root/testdata/sf0.1", 3)
    assert(summary.getBytes("UTF-8").length <= Bench.MaxSummaryBytes,
      s"summary line over budget: ${summary.length} bytes")
    val detail = Bench.detailLine(99999.999, 99999.999,
      worstCase.map { case (k, v) => k -> (v, v) }, "/root/testdata/sf0.1", 3)
    val stdout = detail + "\n" + summary + "\n"
    val tail = stdout.substring(math.max(0, stdout.length - 2000))
    val lastLine = tail.linesIterator.toSeq.last
    val node = mapper.readTree(lastLine) // throws on truncated JSON
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").asDouble() > 0.0)
    assert(node.get("n_queries").asInt() == SparkEntry.queries.size)
  }

  test("per-query warm dict rides along whenever it fits the byte cap") {
    val few = Seq("q1_agg" -> 0.512, "q2_join" -> 1.25)
    val line = Bench.summaryLine(1.762, 3.5, few, "sf0.1", 3)
    val node = mapper.readTree(line)
    assert(node.get("queries") != null, s"dict dropped though it fits: $line")
    assert(node.get("queries").get("q1_agg").asDouble() == 0.512)
  }

  test("samples extra (per-run arrays + plan fingerprints) keeps the detail line valid JSON") {
    val samples = Seq(
      "q1" -> Bench.Samples(
        cold = Seq(Bench.Run(1.234, "ab12cd34ef56"), Bench.Run(0.9, "ab12cd34ef56")),
        warm = Seq(Bench.Run(0.5, "ab12cd34ef56"), Bench.Run(0.51, "none"))),
      "q2" -> Bench.Samples(cold = Seq(Bench.Run(2.0, "ffffffffffff")), warm = Nil))
    val extra = "," + Bench.samplesJson(samples) + ",\"stream_state\":{\"stream_dedup\":500}" +
      "," + Bench.familiesJson(samples, Map("q1" -> "vector", "q2" -> "vector"))
    val detail = Bench.detailLine(1.0, 2.0,
      samples.map { case (k, s) => k -> (s.coldMin, s.warmMin) }, "sf0.1", 3, 2, extra)
    val node = mapper.readTree(detail) // throws on malformed JSON
    val q1 = node.get("samples").get("q1")
    assert(q1.get("cold").size() == 2 && q1.get("warm").size() == 2)
    assert(q1.get("cold").get(0).asDouble() == 1.234)
    assert(q1.get("plans_cold").get(1).asText() == "ab12cd34ef56")
    assert(node.get("samples").get("q2").get("warm").size() == 0)
    assert(node.get("stream_state").get("stream_dedup").asLong() == 500L)
    // warm falls back to cold min when no warm run succeeded
    assert(node.get("queries").get("q2").asDouble() == 2.0)
    // per family: query count and summed warm medians (0.505 + 2.0)
    val vector = node.get("families").get("vector")
    assert(vector.get("n_queries").asInt() == 2)
    assert(vector.get("total_warm_median").asDouble() == 2.505)
  }

  test("medians: odd count takes the middle, even averages, warm falls back to cold") {
    val s = Bench.Samples(
      cold = Seq(Bench.Run(2.0, "aa"), Bench.Run(1.0, "aa")),
      warm = Seq(Bench.Run(0.5, "aa"), Bench.Run(9.0, "aa"), Bench.Run(0.6, "aa")))
    assert(s.warmMedian == 0.6) // one contaminated 9.0 sample cannot move it
    assert(s.coldMedian == 1.5)
    assert(s.warmMin == 0.5)
    val noWarm = Bench.Samples(cold = Seq(Bench.Run(3.0, "aa")), warm = Nil)
    assert(noWarm.warmMedian == 3.0)
  }

  test("samples record per-run GC time arrays") {
    val samples = Seq("q1" -> Bench.Samples(
      cold = Seq(Bench.Run(1.0, "aa", gcMs = 42L)),
      warm = Seq(Bench.Run(0.5, "aa", gcMs = 0L), Bench.Run(0.6, "aa", gcMs = 7L))))
    val node = mapper.readTree("{" + Bench.samplesJson(samples) + "}")
    val q1 = node.get("samples").get("q1")
    assert(q1.get("gc_cold").get(0).asLong() == 42L)
    assert(q1.get("gc_warm").get(0).asLong() == 0L && q1.get("gc_warm").get(1).asLong() == 7L)
  }

  test("truncated expression dumps hash equal regardless of where the cut lands") {
    // Spark truncates long DataFilters/Project dumps with "..." at a
    // byte width; exprId digit counts shift the cut point, which can
    // land after a space in one run and mid-token in another (the real
    // dedup_simhash pair from the r10 sweep below). Both spellings of
    // the same truncated dump must hash equal.
    val cutMidToken =
      "FileScan parquet [doc_id#34L,text#4] DataFilters: [isnotnull(simhash64(split(lower(x)), md5)), i..., Format: Parquet, PushedFilters: [IsNotNull(doc_id)]"
    val cutAfterSpace =
      "FileScan parquet [doc_id#136L,text#106] DataFilters: [isnotnull(simhash64(split(lower(x)), md5)),..., Format: Parquet, PushedFilters: [IsNotNull(doc_id)]"
    assert(Bench.planFingerprint(cutMidToken) == Bench.planFingerprint(cutAfterSpace),
      "a shifted truncation cut must not change the fingerprint")
    // sensitivity survives: a different filter body still distinguishes
    val different = cutMidToken.replace("PushedFilters: [IsNotNull(doc_id)]",
      "PushedFilters: [IsNotNull(text)]")
    assert(Bench.planFingerprint(cutMidToken) != Bench.planFingerprint(different))
  }

  test("a scan's Location hashes the same whole or cut at the metadata length") {
    // Spark cuts the Location value at spark.sql.maxMetadataStringLength
    // (100) characters, so the same scan over a longer scratch path
    // prints a cut, unclosed value
    def scan(location: String) =
      s"FileScan parquet [doc_id#3L,text#4] Batched: true, DataFilters: [], Format: Parquet, " +
        s"Location: $location, PartitionFilters: [], PushedFilters: [], ReadSchema: struct<doc_id:bigint,text:string>"
    val whole = scan("InMemoryFileIndex(1 paths)[file:/tmp/q/graft_docs1234/documents.parquet]")
    val cut = scan("InMemoryFileIndex(1 paths)[file:/tmp/graft_bench_scratch_dir_with_a_long_name/graft_docs98765/...")
    assert(Bench.planFingerprint(whole) == Bench.planFingerprint(cut))
    // a Location ending the line (the formatted explain) is masked too
    assert(Bench.planFingerprint("Location: InMemoryFileIndex [file:/tmp/a]\nReadSchema: x") ==
      Bench.planFingerprint("Location: InMemoryFileIndex [file:/tmp/graft_long_scratch/b...\nReadSchema: x"))
    assert(Bench.planFingerprint(whole) != Bench.planFingerprint(whole.replace("doc_id:bigint", "doc_id:int")))
  }

  test("plan fingerprint is stable across run-varying ids, sensitive to plan shape") {
    val runA =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   TakeOrderedAndProject(limit=10, orderBy=[dist#123 ASC], output=[vec_id#45L,dist#123])
        |   +- *(4) Project [vec_id#45L, l2sq(embedding#46, [1.0,2.0]) AS dist#123]
        |      +- FileScan parquet [vec_id#45L,embedding#46] Location: InMemoryFileIndex[file:/tmp/graft_ivf_abc123/data]""".stripMargin
    val runB = runA // same shape...
      .replaceAll("#123", "#987").replaceAll("#45", "#61").replaceAll("#46", "#62")
      .replace("/tmp/graft_ivf_abc123/data", "/tmp/graft_ivf_ff00aa/data") // ...fresh ids/paths
      .replace("*(4) Project", "*(9) Project") // codegen stage renumbering
    val changed = runA.replace("TakeOrderedAndProject(limit=10", "Sort(global=true") // real plan change
    assert(Bench.planFingerprint(runA) == Bench.planFingerprint(runB),
      "run-varying identifiers must not change the fingerprint")
    assert(Bench.planFingerprint(runA) != Bench.planFingerprint(changed),
      "a different physical shape must change the fingerprint")
  }

  test("AQE reuse-vs-inline exchange race hashes to one fingerprint") {
    // the r8 events_setops finding: the SAME query sometimes prints the
    // second of two identical exchanges as ReusedExchange, sometimes
    // fully inlined — a stage-materialization race, not a plan change
    val inlined =
      """*(1) HashAggregate(keys=[], functions=[count(1)])
        |+- Union
        |   :- *(2) HashAggregate(keys=[k#1L], functions=[sum(v#2L)])
        |   :  +- ShuffleQueryStage 0
        |   :     +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=10]
        |   :        +- *(3) HashAggregate(keys=[k#1L], functions=[partial_sum(v#2L)])
        |   :           +- Scan ExistingRDD[k#1L,v#2L]
        |   +- *(4) HashAggregate(keys=[k#5L], functions=[sum(v#6L)])
        |      +- ShuffleQueryStage 1
        |         +- Exchange hashpartitioning(k#5L, 32), ENSURE_REQUIREMENTS, [plan_id=12]
        |            +- *(5) HashAggregate(keys=[k#5L], functions=[partial_sum(v#6L)])
        |               +- Scan ExistingRDD[k#5L,v#6L]""".stripMargin
    val reused =
      """*(1) HashAggregate(keys=[], functions=[count(1)])
        |+- Union
        |   :- *(2) HashAggregate(keys=[k#1L], functions=[sum(v#2L)])
        |   :  +- ShuffleQueryStage 0
        |   :     +- Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=10]
        |   :        +- *(3) HashAggregate(keys=[k#1L], functions=[partial_sum(v#2L)])
        |   :           +- Scan ExistingRDD[k#1L,v#2L]
        |   +- *(4) HashAggregate(keys=[k#5L], functions=[sum(v#6L)])
        |      +- ShuffleQueryStage 2
        |         +- ReusedExchange [k#5L, sum#9L], Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS, [plan_id=10]""".stripMargin
    assert(Bench.planFingerprint(inlined) == Bench.planFingerprint(reused),
      "reuse-vs-inline must canonicalize to one fingerprint")
    // the race also picks WHICH branch reuses (the r9 finding: the
    // ReusedExchange appeared in branch 2 one run, branch 3 the next) —
    // the MIRRORED reuse must hash equal too
    val reusedMirror =
      """*(1) HashAggregate(keys=[], functions=[count(1)])
        |+- Union
        |   :- *(2) HashAggregate(keys=[k#1L], functions=[sum(v#2L)])
        |   :  +- ShuffleQueryStage 2
        |   :     +- ReusedExchange [k#1L, sum#9L], Exchange hashpartitioning(k#5L, 32), ENSURE_REQUIREMENTS, [plan_id=12]
        |   +- *(4) HashAggregate(keys=[k#5L], functions=[sum(v#6L)])
        |      +- ShuffleQueryStage 1
        |         +- Exchange hashpartitioning(k#5L, 32), ENSURE_REQUIREMENTS, [plan_id=12]
        |            +- *(5) HashAggregate(keys=[k#5L], functions=[partial_sum(v#6L)])
        |               +- Scan ExistingRDD[k#5L,v#6L]""".stripMargin
    assert(Bench.planFingerprint(reusedMirror) == Bench.planFingerprint(inlined),
      "reuse landing in the other branch must hash equal too")
    // but a GENUINELY different second exchange must not collapse
    val different = inlined.replace("partial_sum(v#6L)", "partial_max(v#6L)")
    assert(Bench.planFingerprint(different) != Bench.planFingerprint(inlined),
      "distinct exchange contents must keep distinct fingerprints")
  }

  test("dict is dropped, not truncated, when it would blow the cap") {
    val many = (1 to 500).map(i => s"query_with_a_quite_long_name_$i" -> 1.234)
    val line = Bench.summaryLine(617.0, 1234.0, many, "sf0.1", 3)
    assert(line.getBytes("UTF-8").length <= Bench.MaxSummaryBytes)
    val node = mapper.readTree(line) // still valid JSON
    assert(node.get("queries") == null)
    assert(node.get("n_queries").asInt() == 500)
  }
}
