package graft
import org.apache.spark.sql.SparkSession

/** Bench harness: per-query timings at the target SF.
  *
  * Each query runs `SPARK_GRAFT_BENCH_COLD_RUNS` (default 2) times COLD
  * — every run builds a FRESH plan (compilation, codegen, any
  * build-once fixture like the IVF layout); the first is additionally
  * process-cold (JIT, buffer pools) — and the reported cold number is
  * the MIN across those runs. Then `SPARK_GRAFT_BENCH_RUNS` (default 3)
  * WARM runs; the headline per-query number is the best warm run. Both
  * run counts ride in the output (`cold_runs` / `warm_runs`).
  *
  * EVERY raw sample is recorded, not just the min: the detail record
  * carries per-run cold/warm arrays (`samples`) plus a fingerprint of
  * each run's POST-AQE executed plan (`plans_*`), so a
  * round-over-round anomaly ("warm 6× slower than its own cold") is
  * adjudicable from the record — one slow run vs three consistently
  * slow runs vs a plan flip are three different diagnoses, and the
  * min-only record could not distinguish them. Fingerprints are
  * MD5-of-normalized-plan (expression ids, plan ids, and temp paths
  * stripped — they legitimately differ run to run); identical
  * fingerprints cold vs warm prove the plan was stable and the delta
  * was environment, divergent ones localize a planner instability.
  *
  * OUTPUT CONTRACT: the harness that consumes this only sees the last
  * ~2000 characters of stdout and parses the LAST line as JSON. The full
  * per-query detail (~20 KB with samples) therefore goes out as the
  * FIRST line and to BENCH_DETAIL.json; the final stdout line is a
  * compact summary hard-capped at [[Bench.MaxSummaryBytes]] bytes
  * (per-query dict included only when it fits the cap).
  */
object Bench {
  /** Byte budget for the final stdout line; comfortably under the
    * consumer's 2000-char tail even with a trailing newline and any
    * stray epilogue characters. */
  val MaxSummaryBytes = 1400

  private def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def dictOf(entries: Seq[(String, Double)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")

  /** The compact final-stdout line. Per-query warm timings ride along only
    * if the full line stays under `maxBytes`; otherwise they are dropped
    * (they are still available in the detail line / BENCH_DETAIL.json). */
  def summaryLine(totalWarm: Double, totalCold: Double,
                  queriesWarm: Seq[(String, Double)],
                  sf: String, warmRuns: Int, coldRuns: Int = 2,
                  maxBytes: Int = MaxSummaryBytes): String = {
    val base = s"""{"metric":"total","value":${r3(totalWarm)},"unit":"sec",""" +
      s""""total_cold":${r3(totalCold)},"warm_runs":$warmRuns,"cold_runs":$coldRuns,""" +
      s""""n_queries":${queriesWarm.size},"sf":"$sf""""
    val withDict = base + s""","queries":${dictOf(queriesWarm)}}"""
    if (withDict.getBytes("UTF-8").length <= maxBytes) withDict else base + "}"
  }

  /** Full detail record: warm and cold per-query dicts, unrounded totals. */
  def detailLine(totalWarm: Double, totalCold: Double,
                 results: Seq[(String, (Double, Double))],
                 sf: String, warmRuns: Int, coldRuns: Int = 2,
                 extra: String = ""): String = {
    def dict(f: ((Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + r3(f(v)) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$totalWarm,"unit":"sec","queries":${dict(_._2)},""" +
      s""""queries_cold":${dict(_._1)},"total_cold":$totalCold,""" +
      s""""warm_runs":$warmRuns,"cold_runs":$coldRuns$extra,"sf":"$sf"}"""
  }

  /** One run's measurement: elapsed seconds + executed-plan fingerprint
    * ("none" when the plan could not be captured) + JVM GC time (ms)
    * accumulated DURING the run — the r9 `tpch_nation_revenue`
    * adjudication's blind spot: a warm>cold sample with an identical
    * fingerprint could not distinguish "this query got slower" from
    * "this sample paid a neighbor's GC debt"; now the debt is in the
    * record. `jitMs` is the same instrument for the OTHER in-JVM
    * neighbor effect: JIT compilation time accumulated during the run
    * (the r10 `doc_quality` anomaly rose in-sweep with gc=0 and an
    * identical fingerprint — code-cache/JIT churn was the leading
    * hypothesis the record could not confirm; now it can). */
  final case class Run(secs: Double, plan: String, gcMs: Long = 0L, jitMs: Long = 0L)

  /** Prior full-sweep record for the changed-only mode: per query, the
    * PRE-execution (optimized logical plan) fingerprint plus the
    * recorded cold/warm minima. */
  final case class Prior(lfp: String, cold: Double, warm: Double)

  /** All samples for one query, in run order. */
  final case class Samples(cold: Seq[Run], warm: Seq[Run]) {
    def coldMin: Double = cold.map(_.secs).min
    def warmMin: Double = if (warm.nonEmpty) warm.map(_.secs).min else coldMin
    // Medians ride the record NEXT TO the minima (r13 adjudication
    // lesson: an environment-contention window inflates whole queries
    // for several consecutive samples, so min-vs-median divergence in
    // the record itself flags a contaminated sweep without needing the
    // raw sample arrays parsed).
    def coldMedian: Double = medianOf(cold.map(_.secs))
    def warmMedian: Double =
      if (warm.nonEmpty) medianOf(warm.map(_.secs)) else coldMedian
  }

  private def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The record grouped by query family: per family (sorted by name),
    * its query count and the sum of its warm medians. */
  def familiesJson(results: Seq[(String, Samples)], familyOf: String => String): String =
    results.groupBy { case (name, _) => familyOf(name) }.toSeq.sortBy(_._1)
      .map { case (f, rs) =>
        s""""$f":{"n_queries":${rs.size},"total_warm_median":${r3(rs.map(_._2.warmMedian).sum)}}"""
      }.mkString("\"families\":{", ",", "}")

  /** The per-run record: every sample and every plan fingerprint, so the
    * consumer can tell "one slow run" from "consistently slow" from
    * "the plan changed". */
  def samplesJson(results: Seq[(String, Samples)]): String = {
    def arr(rs: Seq[Run]) = rs.map(r => r3(r.secs)).mkString("[", ",", "]")
    def fps(rs: Seq[Run]) = rs.map(r => "\"" + r.plan + "\"").mkString("[", ",", "]")
    def gcs(rs: Seq[Run]) = rs.map(_.gcMs).mkString("[", ",", "]")
    def jits(rs: Seq[Run]) = rs.map(_.jitMs).mkString("[", ",", "]")
    results.map { case (name, s) =>
      "\"" + name + "\":{" +
        s""""cold":${arr(s.cold)},"warm":${arr(s.warm)},""" +
        s""""plans_cold":${fps(s.cold)},"plans_warm":${fps(s.warm)},""" +
        s""""gc_cold":${gcs(s.cold)},"gc_warm":${gcs(s.warm)},""" +
        s""""jit_cold":${jits(s.cold)},"jit_warm":${jits(s.warm)}}"""
    }.mkString("\"samples\":{", ",", "}")
  }

  /** Canonicalize AQE's exchange-reuse CHOICE out of a (normalized)
    * plan text: whether one of N identical exchanges prints as a
    * `ReusedExchange` one-liner or as a fully inlined duplicate
    * subtree — and WHICH of them does — is a stage-materialization
    * race (same work every way; the r8 `events_setops` finding, where
    * the reuse landed in a different union branch per run), so every
    * spelling must hash equal. Rule: collapse to a
    * `ReusedExchangeRef <exchange header>` marker (a) every
    * `ReusedExchange` line (the embedded header is kept), (b) EVERY
    * occurrence of an `Exchange` subtree whose stripped body appears
    * more than once (not just the 2nd+ — the racing run may inline
    * either copy), and (c) every `Exchange` subtree whose header some
    * `ReusedExchange` line references (in a reuse run the surviving
    * copy is the only full one, so duplicate-counting alone cannot see
    * it). Unique, unreferenced exchanges keep their full subtree, so
    * the fingerprint stays sensitive everywhere the race cannot
    * reach. */
  private[graft] def collapseExchangeDups(plan: String): String = {
    val lines = plan.split("\n", -1)
    def contentStart(l: String): Int = {
      var i = 0
      while (i < l.length && " :+-".indexOf(l(i)) >= 0) i += 1
      i
    }
    def reusedHeader(content: String): String = {
      val cut = content.indexOf("], ")
      if (cut >= 0) content.substring(cut + 3) else content
    }
    def subtreeEnd(i: Int, cs: Int): Int = {
      var j = i + 1
      while (j < lines.length && contentStart(lines(j)) > cs) j += 1
      j
    }
    def subtreeBody(i: Int, cs: Int): String = {
      val b = new StringBuilder(lines(i).substring(cs))
      var j = i + 1
      while (j < lines.length && contentStart(lines(j)) > cs) {
        b.append('\n').append(lines(j).substring(contentStart(lines(j))))
        j += 1
      }
      b.toString
    }
    // pass 1: reuse-referenced headers + duplicate subtree bodies
    val referenced = scala.collection.mutable.Set.empty[String]
    val bodyCount = scala.collection.mutable.Map.empty[String, Int]
    for (i <- lines.indices) {
      val cs = contentStart(lines(i))
      val content = lines(i).substring(cs)
      if (content.startsWith("ReusedExchange ")) referenced += reusedHeader(content)
      else if (content.startsWith("Exchange ")) {
        val b = subtreeBody(i, cs)
        bodyCount(b) = bodyCount.getOrElse(b, 0) + 1
      }
    }
    // pass 2: rewrite
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      val cs = contentStart(l)
      val content = l.substring(cs)
      if (content.startsWith("ReusedExchange ")) {
        out += l.substring(0, cs) + "ReusedExchangeRef " + reusedHeader(content)
        i += 1
      } else if (content.startsWith("Exchange ") &&
          (referenced(content) || bodyCount(subtreeBody(i, cs)) > 1)) {
        out += l.substring(0, cs) + "ReusedExchangeRef " + content
        i = subtreeEnd(i, cs)
      } else { out += l; i += 1 }
    }
    out.mkString("\n")
  }

  /** Stable hash of an executed-plan string: run-varying identifiers
    * (expression ids, plan/stage ids, scratch paths, object addresses)
    * are normalized away — and AQE's reuse-vs-inline exchange race is
    * canonicalized ([[collapseExchangeDups]]) — so two runs of the
    * same logical query hash equal iff Catalyst/AQE produced the same
    * physical shape. */
  private[graft] def planFingerprint(plan: String): String = {
    val norm = plan
      // a file scan's Location (index class, path count, scratch paths)
      // is cut at spark.sql.maxMetadataStringLength characters, so the
      // cut point moves with the scratch path's length: mask the whole
      // value, cut or not
      .replaceAll("(?m)Location: .*?(?=, PartitionFilters: |$)", "Location: x")
      .replaceAll("#\\d+[A-Za-z]*", "#x")
      // codegen stage ids: two independent branches (e.g. parallel
      // broadcast totals) get *(n) numbers in compile-completion order
      .replaceAll("\\*\\(\\d+\\)", "*(n)")
      // HOF lambda variables carry a session-global freshName counter
      // (lambda x_1190, x_1191, ...) that increments per construction
      .replaceAll("\\b([a-z]+)_\\d+#x", "$1_n#x")
      .replaceAll("ResultQueryStage \\d+", "ResultQueryStage x")
      // Spark truncates long expression dumps with "..." at a byte
      // width, so the cut point shifts with exprId digit counts — and
      // can land after a space in one run but mid-token in another
      // (seen on dedup_simhash's DataFilters dump: "md5)), i..." vs
      // "md5)),..."), so collapsing only the last token is not enough:
      // first collapse a whole unclosed bracket run ending in the
      // ellipsis (the truncated dump's entire visible body), then any
      // remaining bare truncated token
      .replaceAll("\\[[^\\[\\]]*\\.\\.\\.", "[…")
      .replaceAll("\\S*\\.\\.\\.", "…")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("exprId=\\d+", "exprId=x")
      .replaceAll("\\[id=[^\\]]*\\]", "[id=x]")
      // object addresses/hashCodes (Lambda$123/0x…@1a2b3c) — hashCode
      // hex can be ANY length (a 5-char @39cec escaped the old {6,}
      // bound and split media_resize_stats' fingerprint in r9); the
      // lambda class id/address itself is per-JVM, which matters for
      // the cross-process BENCH_FPS comparison in changed-only mode
      .replaceAll("Lambda\\$\\d+/0x[0-9a-fA-F]+", "Lambda\\$x")
      .replaceAll("@[0-9a-fA-F]+", "@x")
      .replaceAll("ShuffleQueryStage \\d+", "ShuffleQueryStage x")
      .replaceAll("BroadcastQueryStage \\d+", "BroadcastQueryStage x")
      .replaceAll("/tmp/[\\w./-]*", "/tmp/x")
      .replaceAll("graft_\\w+", "graft_x")
    val canon = collapseExchangeDups(norm)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(canon.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val coldRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_COLD_RUNS", "2").toInt)
    // dev-only A/B knob for local conf experiments ("k=v;k2=v2");
    // unset, the run gets exactly the local session
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';').toSeq).flatMap { kv =>
        val i = kv.indexOf('=')
        if (i > 0) Some(kv.take(i).trim -> kv.drop(i + 1).trim) else None
      }
    val spark = SparkEntry.localSession(defaultCpus = 32, extraConf)
    // absorb session/executor startup so the first query's time is real
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.format("noop").mode("overwrite").save()

    // Post-AQE plan capture: QueryExecutionListener fires after every
    // action with the EXECUTED QueryExecution (AdaptiveSparkPlanExec
    // already holding its final plan). Delivery is async but FIFO, so
    // after a query's terminal noop save the LAST event to land is that
    // save's — [[drainLastPlan]] polls (outside the timed region) until
    // the event counter is stable.
    val lastPlan = new java.util.concurrent.atomic.AtomicReference[(Long, String)]((0L, ""))
    val warnedNoTerminalPlan = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val prev = lastPlan.get()
        lastPlan.set((prev._1 + 1, qe.executedPlan.toString))
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })

    def drainLastPlan(sinceCount: Long): Option[String] = {
      val deadline = System.nanoTime() + 2000000000L
      var last = lastPlan.get()
      var stableAt = System.nanoTime()
      var done = false
      while (!done && System.nanoTime() < deadline) {
        Thread.sleep(5)
        val cur = lastPlan.get()
        if (cur._1 != last._1) { last = cur; stableAt = System.nanoTime() }
        // an event arrived for THIS action, nothing newer for 30 ms, AND
        // it is the TERMINAL noop save's plan — a query whose closure
        // runs internal actions (an argmax head(), a frontier build)
        // emits events for those too, and under listener-bus load the
        // save's event can land after the 30 ms stability window, so
        // stability alone occasionally fingerprinted an inner action
        // (seen once on knn_at_recall in the r9 sweep)
        done = last._1 > sinceCount &&
          (System.nanoTime() - stableAt) > 30000000L &&
          last._2.startsWith("OverwriteByExpression")
      }
      if (last._1 > sinceCount && last._2.startsWith("OverwriteByExpression"))
        Some(last._2)
      else {
        // warn ONCE per process: if a future Spark renames/wraps the
        // noop-write root node, every fingerprint would silently
        // degrade to "none" after the 2 s deadline — make the plan-root
        // rename loud instead of an all-"none" record
        if (!warnedNoTerminalPlan.getAndSet(true))
          System.err.println(
            "graft.Bench: drain deadline expired without a terminal " +
              "'OverwriteByExpression' plan (saw root: '" +
              last._2.linesIterator.take(1).mkString.take(80) +
              "') — fingerprints may record as 'none'; check whether " +
              "the noop-write plan root was renamed in this Spark version")
        None
      }
    }

    // raw plan text per (query, fingerprint): when a query's runs ever
    // disagree on the fingerprint, every variant is dumped to the temp dir so
    // the divergence is diffable from the round's artifacts instead of
    // unexplainable (the r7 doc_repetition lesson applied to plans)
    val planTexts = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, String]]

    // pre-execution (optimized logical plan) fingerprint per query, for
    // BENCH_FPS.json; captured from a DataFrame that is being run
    // anyway, so the full sweep pays no extra construction
    val freshFps = scala.collection.mutable.Map.empty[String, String]
    def captureLfp(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (!freshFps.contains(name))
        try freshFps(name) = planFingerprint(df.queryExecution.optimizedPlan.toString)
        catch { case _: Throwable => }

    // noop sink materializes every row/column — count() alone would let
    // Catalyst prune the distance compute out of the measurement
    def gcTimeMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def jitTimeMs(): Long =
      if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
        jitBean.getTotalCompilationTime
      else 0L
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Run] = {
      val before = lastPlan.get()._1
      val g0 = gcTimeMs()
      val j0 = jitTimeMs()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        captureLfp(name, df)
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9 // timed region ends HERE
        val gcMs = gcTimeMs() - g0
        val jitMs = jitTimeMs() - j0
        val raw = drainLastPlan(before)
        val fp = raw.map(planFingerprint).getOrElse("none")
        raw.foreach(p => planTexts.getOrElseUpdate(name,
          scala.collection.mutable.Map.empty).getOrElseUpdate(fp, p))
        Some(Run(secs, fp, gcMs, jitMs))
      } catch {
        case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }

    // optional comma-separated subset for local iteration; the driver
    // leaves it unset and benches everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(q => s(q._1)))

    // Seeded per-sweep order randomization: queries share one JVM and
    // one session, so a FIXED order lets a neighbor effect (a GC debt,
    // an artifact build, page-cache pressure from the previous query)
    // land on the same victim every sweep and masquerade as that
    // query's own regression — the r9 `tpch_nation_revenue` warm>cold
    // anomaly, which vanished in an isolated rerun. A recorded random
    // order turns such effects into visible cross-sweep variance
    // instead. The seed rides in the detail record (`order_seed`), and
    // the detail/summary dict key order IS the run order, so any sweep
    // is exactly replayable via SPARK_GRAFT_BENCH_ORDER_SEED.
    val orderSeed = sys.env.get("SPARK_GRAFT_BENCH_ORDER_SEED")
      .map(_.toLong).getOrElse(System.nanoTime())
    val orderedSelected =
      new scala.util.Random(orderSeed).shuffle(selected.toSeq.sortBy(_._1))

    // CHANGED-ONLY mode (local iteration; the driver leaves it unset and
    // the full five-sample sweep stays the recorded artifact): a query
    // whose pre-execution fingerprint — the OPTIMIZED LOGICAL PLAN,
    // normalized like the executed one — equals the last full sweep's
    // (BENCH_FPS.json) reuses that sweep's recorded minima instead of
    // re-running its 2 cold + N warm samples. Honesty caveats, by
    // construction: (a) the skip decision still BUILDS the query
    // (queries with eager closures — streaming replays, BPE training —
    // pay construction either way; only the timed re-runs are saved);
    // (b) reused numbers are the PRIOR sweep's environment, so totals
    // mix epochs — fine for spotting regressions per query, not for a
    // recorded round artifact, which is why the mode is opt-in via
    // SPARK_GRAFT_BENCH_CHANGED_ONLY=1.
    val changedOnly = sys.env.get("SPARK_GRAFT_BENCH_CHANGED_ONLY")
      .exists(v => v == "1" || v == "true")
    val fpsPath = java.nio.file.Paths.get("BENCH_FPS.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prior: Map[String, Prior] =
      if (java.nio.file.Files.exists(fpsPath)) {
        try {
          val root = mapper.readTree(java.nio.file.Files.readString(fpsPath))
          import scala.jdk.CollectionConverters._
          root.properties().asScala.map { e =>
            e.getKey -> Prior(e.getValue.get("lfp").asText(),
              e.getValue.get("cold").asDouble(), e.getValue.get("warm").asDouble())
          }.toMap
        } catch { case _: Throwable => Map.empty }
      } else Map.empty

    val reused = scala.collection.mutable.Map.empty[String, Prior]
    val results: Seq[(String, Samples)] = orderedSelected.flatMap { case (name, fn) =>
      // in changed-only mode the skip check builds the query once
      // (outside any timing) for its pre-execution fingerprint
      val skip = changedOnly && {
        (try { captureLfp(name, fn(spark, sfDir)); true }
         catch { case _: Throwable => false }) &&
          freshFps.get(name).exists(f => prior.get(name).exists(_.lfp == f))
      }
      if (skip) {
        val p = prior(name)
        reused(name) = p
        Some(name -> Samples(
          Seq(Run(p.cold, "reused")), Seq(Run(p.warm, "reused"))))
      } else runOnce(name, fn).map { first =>
        // each extra cold run rebuilds the plan from scratch (fresh
        // DataFrame); only JIT/page-cache state carries over — min-of-N
        // suppresses one-off GC/JIT stalls without hiding planning cost
        val cold = first +: (2 to coldRuns).flatMap(_ => runOnce(name, fn))
        val warm = (1 to warmRuns).flatMap(_ => runOnce(name, fn))
        name -> Samples(cold, warm)
      }
    }
    // any query whose runs produced >1 distinct plan shape: dump every
    // variant for offline diffing
    val tmpDir = System.getProperty("java.io.tmpdir")
    planTexts.foreach { case (name, variants) =>
      if (variants.size > 1) {
        variants.foreach { case (fp, text) =>
          val f = java.nio.file.Paths.get(tmpDir, s"graft_bench_plan_${name}_$fp.txt")
          try java.nio.file.Files.writeString(f, text)
          catch { case _: Throwable => }
        }
        System.err.println(s"[bench] $name: ${variants.size} distinct plan " +
          s"fingerprints (${variants.keys.mkString(", ")}) — variants dumped " +
          s"to $tmpDir/graft_bench_plan_${name}_<fp>.txt")
      }
    }
    // persist the fingerprint+minima record for the NEXT changed-only
    // run: fresh entries win; queries skipped this run (or not selected
    // by BENCH_ONLY) keep their prior record
    val fpsOut: Map[String, Prior] = prior ++ results.flatMap { case (name, s) =>
      freshFps.get(name).map(f => name -> Prior(f, s.coldMin, s.warmMin))
    }
    try {
      val body = fpsOut.toSeq.sortBy(_._1).map { case (n, p) =>
        s""""$n":{"lfp":"${p.lfp}","cold":${r3(p.cold)},"warm":${r3(p.warm)}}"""
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(fpsPath, (body + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] fps file: ${e.getMessage}") }
    if (changedOnly)
      System.err.println(s"[bench] changed-only: reused ${reused.size} of " +
        s"${results.size} queries (plan fingerprint unchanged vs BENCH_FPS.json)")

    val minima = results.map { case (name, s) => name -> (s.coldMin, s.warmMin) }
    val totalWarm = minima.map(_._2._2).sum
    val totalCold = minima.map(_._2._1).sum
    // measured recall@10 of the approximate family (LSH, pruned IVF) vs
    // the exact scan — the accuracy/cost trade-off quantified per round
    val recall = try {
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      Some(graft.index.Recall.measure(corpus))
    } catch {
      case e: Throwable => System.err.println(s"[bench] recall: ${e.getMessage}"); None
    }
    // rows-in-state per streaming query (max over micro-batches), so the
    // claimed watermark bounds are MEASURED per round, not just
    // spec-pinned once — a leak shows up as round-over-round growth here
    val streamState = {
      import scala.jdk.CollectionConverters._
      val m = graft.queries.Fixtures.streamStateRows.asScala.toSeq.sortBy(_._1)
      if (m.isEmpty) ""
      else m.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(",\"stream_state\":{", ",", "}")
    }
    // per-query warm medians (and the median total): a clean sweep has
    // median ≈ min; a contention window shows as median ≫ min right in
    // the record (the r13 ten-query adjudication, made self-evident)
    val medianDict = results
      .map { case (name, s) => "\"" + name + "\":" + r3(s.warmMedian) }
      .mkString("{", ",", "}")
    val totalWarmMedian = results.map(_._2.warmMedian).sum
    val families = graft.queries.Catalog.all.map(d => d.name -> d.family).toMap
    val extra = recall.fold("")("," + _.json) +
      s""","total_warm_median":${r3(totalWarmMedian)}""" +
      s""","queries_warm_median":$medianDict""" +
      s""","order_seed":$orderSeed,""" + samplesJson(results) + streamState +
      "," + familiesJson(results, families)
    val detail = detailLine(totalWarm, totalCold, minima, sfDir, warmRuns, coldRuns, extra)
    println(detail) // first line: full per-query detail for humans/logs
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail file: ${e.getMessage}") }
    // LAST stdout line — must survive the consumer's 2000-char tail
    println(summaryLine(totalWarm, totalCold, minima.map { case (k, v) => (k, v._2) }, sfDir, warmRuns, coldRuns))
    spark.stop()
  }
}
