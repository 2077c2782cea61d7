package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-machine scale probe: replicates the sf0.1 fixtures N× with
  * shifted ids (no new data files — the replicas differ only in id, so
  * operator work scales while distances/hashes keep their distribution)
  * and times the flagship operators once each. The point is linear-shape
  * evidence — no candidate blowups, no driver collects — not a tuned
  * benchmark; run with `sbt "runMain graft.ScaleProbe [factor]"`.
  */
object ScaleProbe {

  /** Optional probe filter (second CLI arg, comma-separated substrings)
    * so a single suspicious number can be re-measured without paying
    * for the whole suite. */
  private var onlyFilter: Option[Set[String]] = None

  private def time[A](name: String)(body: => A): Unit =
    if (onlyFilter.forall(_.exists(name.contains))) {
      val t0 = System.nanoTime()
      body
      println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(20)
    onlyFilter = args.drop(1).headOption
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, idCol: String, times: Int): DataFrame = {
      val n = df.count()
      df.crossJoin(spark.range(times).select(col("id").as("_rep")))
        .withColumn(idCol, col(idCol) + col("_rep") * lit(n * 10))
        .drop("_rep")
    }

    // content-VARIED doc replication: every replica group gets a
    // per-group token prefix, so shingle/fingerprint sets of different
    // groups are DISJOINT and candidate-pair volume scales LINEARLY
    // with the factor — the honest fixture for probing the pair-finding
    // operators themselves. (Id-only replication turns every doc into a
    // factor-sized exact-dup clique, growing candidate AND output
    // volume quadratically in the factor: at 40× that fixture effect —
    // 780 pairs per clique vs 190 at 20× — dwarfed the operators'
    // own scaling in earlier rounds' tables.)
    def replicateVaried(factor: Int): DataFrame = {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val n = base.count()
      base.crossJoin(spark.range(factor).select(col("id").as("_rep")))
        .select(
          (col("doc_id") + col("_rep") * lit(n * 10)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit("g"), col("_rep"), lit("_"), t))).as("text"))
    }

    // the vector corpus is small per scale factor — replicate it 10×
    // harder so the ANN numbers exercise a meaningful row count
    val emb = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding"), "vec_id", factor * 10)
    val docs = replicate(spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text"), "doc_id", factor)
    val nVec = emb.count()
    val nDoc = docs.count()
    println(s"[scale] corpus: $nVec vectors (${factor * 10}x), $nDoc documents (${factor}x sf0.1)")

    val query = Array.fill(64)(0.1f)

    time("exact kNN top-10")(noop(
      graft.ops.VectorSearch.knnExact(emb, query.toSeq, 10)))

    time("TopKAggregator kNN join")(noop {
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.ops.VectorSearch.knnJoinAgg(queries, emb, k = 5)
    })

    val cb = graft.index.Pq.fit(emb, m = 8, k = 64, maxSample = 8192)
    val codes = graft.index.Pq.encode(emb, cb)
    time("PQ encode (build)")(noop(codes))
    // materialize codes once so the ADC timing is the scan, not the encode
    val codesCached = codes.persist()
    codesCached.count()
    time("PQ ADC scan top-10")(noop(
      graft.index.Pq.search(codesCached, cb, query, k = 10)))
    codesCached.unpersist()

    // SQ8: the fit is ONE exact per-dim min/max aggregation (a linear
    // narrow scan with map-side combine to ≤ dim rows), encode a
    // narrow map (1 byte/dim out), and the ADC scan the same
    // table-lookup TakeOrdered shape as PQ at m=dim — all three must
    // track the corpus linearly with no driver-side surprises
    if (onlyFilter.forall(_.exists("sq8".contains))) {
      val t0 = System.nanoTime()
      val sqm = graft.index.Sq.fit(emb)
      println(f"[scale] sq8 fit (min/max agg, $nVec vectors) " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
      val sqCodes = graft.index.Sq.encode(emb, sqm)
      time(s"sq8 encode ($nVec vectors)")(noop(sqCodes))
      val sqCached = sqCodes.persist()
      sqCached.count()
      time(s"sq8 ADC scan top-10 ($nVec codes)")(noop(
        graft.index.Sq.search(sqCached, sqm, query, k = 10)))
      time(s"sq8 rerank 200 -> exact 10")(noop(
        graft.index.Sq.searchRerank(sqCached, emb, sqm, query, k = 10,
          shortlist = 200)))
      sqCached.unpersist()
    }

    // batch-probe amortization: N queries through ONE scan/probe vs N
    // single probes over the same store — the wall-clock ratio is the
    // point (the batch path must approach 1× the single-probe cost,
    // not N×: one codes scan computing N ADC columns; one bucket-
    // pruned posting probe sharing one df aggregation)
    if (onlyFilter.forall(_.exists("batchprobe".contains))) {
      val sqm = graft.index.Sq.fit(emb)
      // DISK-backed codes — the honest 100 TB condition: a persisted
      // code table each single probe re-reads from storage (a
      // memory-cached table flatters the singles: their codegen
      // TakeOrdered is nearly free once IO is removed)
      val sqDir = java.nio.file.Files
        .createTempDirectory(s"probe_sqbatch_$factor").toString + "/codes"
      graft.index.Sq.encode(emb, sqm).write.parquet(sqDir)
      val sqDisk = spark.read.parquet(sqDir)
      val qs = (0 until 8).map(i =>
        (i.toLong, Array.tabulate(64)(d => 0.1f + 0.01f * ((i + d) % 7))))
      time(s"batchprobe sq8 8q ONE scan ($nVec codes)")(noop(
        graft.index.Sq.searchRerankBatch(sqDisk, emb, sqm, qs,
          k = 10, shortlist = 200)))
      time("batchprobe sq8 8q singles x8")(
        qs.foreach { case (_, q) => noop(
          graft.index.Sq.searchRerank(sqDisk, emb, sqm, q,
            k = 10, shortlist = 200)) })

      val dv = replicateVaried(factor).repartition(cpus.toInt).localCheckpoint()
      val bmDir = java.nio.file.Files
        .createTempDirectory(s"probe_bmbatch_$factor").toString + "/postings"
      val bmTable = s"probe_bmbatch_$factor"
      spark.sql(s"DROP TABLE IF EXISTS $bmTable")
      graft.text.InvertedIndex.ensure(spark, dv, bmTable, bmDir, buckets = 8)
      // the varied fixture prefixes each replica group's tokens, so
      // query i probes group i's postings — 8 disjoint term sets
      val termSets = (0L until 8L).map(i =>
        i -> Seq(s"g${i}_spark", s"g${i}_join", s"g${i}_merge", s"g${i}_window"))
      time(s"batchprobe bm25 8q ONE probe (${factor}x)")(noop(
        graft.text.InvertedIndex.bm25SearchBatch(spark, bmTable, bmDir,
          termSets, topN = 10)))
      time("batchprobe bm25 8q singles x8")(
        termSets.foreach { case (_, ts) => noop(
          graft.text.InvertedIndex.bm25SearchDeltaAware(spark, bmTable, bmDir,
            ts, topN = 10)) })
    }

    // incremental text-index appends: the batch stays FIXED while the
    // indexed corpus grows with the factor — the established
    // incremental-store asymmetry. Append cost must track the BATCH
    // (its own tokenize/explode + a batch-sized write); the
    // delta-aware probes must track the pruned posting legs + the
    // batch-sized delta reads, never the corpus text
    if (onlyFilter.forall(_.exists("textdelta".contains))) {
      // spread the fixture (the varied crossJoin inherits the base
      // file's few partitions — a 1-task build would measure one core)
      val dv = replicateVaried(factor).repartition(cpus.toInt).localCheckpoint()
      val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(500)
        .select((col("doc_id") + lit(9500000L)).as("doc_id"), col("text"))
        .localCheckpoint()
      val posDir = java.nio.file.Files
        .createTempDirectory(s"probe_posidx_$factor").toString
      time(s"textdelta positional build (${factor}x varied)")(
        graft.text.InvertedIndex.ensurePositional(
          spark, dv, s"probe_pos_$factor", posDir, buckets = 8))
      time("textdelta positional append (500-doc batch)")(
        graft.text.InvertedIndex.appendPositionalDelta(
          spark, posDir, batch, tag = "probe"))
      time(s"textdelta phrase probe base∪delta (${factor}x)")(noop(
        graft.text.InvertedIndex.phraseSearchDeltaAware(
          spark, s"probe_pos_$factor", posDir, Seq("hash", "join"))))
      val triDir = java.nio.file.Files
        .createTempDirectory(s"probe_triidx_$factor").toString
      time(s"textdelta trigram build (${factor}x varied)")(
        graft.text.InvertedIndex.ensureTrigram(
          spark, dv, s"probe_tri_$factor", triDir, buckets = 8))
      time("textdelta trigram append (500-doc batch)")(
        graft.text.InvertedIndex.appendTrigramDelta(
          spark, triDir, batch, tag = "probe"))
      time(s"textdelta substring probe base∪delta (${factor}x)")(noop(
        graft.text.InvertedIndex.substringSearchDeltaAware(
          spark, s"probe_tri_$factor", triDir, dv.unionAll(batch),
          needle = "merge batch")))
      spark.sql(s"DROP TABLE IF EXISTS probe_pos_$factor")
      spark.sql(s"DROP TABLE IF EXISTS probe_tri_$factor")
    }

    // COMPACTION IO under the size-ratio policy vs a pure count
    // policy: a fixed 500-doc batch appends 12 times into a BM25
    // posting store; the ratio policy (fold when Σdelta ≥ base) folds
    // at geometrically-spaced points, so its per-fold write IO is
    // proportional to the DELTA bytes it folds (base ≈ delta at fold
    // time) and total compaction IO stays a constant multiple of the
    // appended bytes; the count policy (fold every 4 batches) rewrites
    // an ever-growing base on a fixed cadence — total IO grows with
    // stream length. The probe prints both totals so the asymmetry is
    // a recorded number, not an argument.
    if (onlyFilter.forall(_.exists("compactio".contains))) {
      val seed = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).limit(2000).localCheckpoint()
      def batchN(i: Int) = seed
        .select((col("doc_id") + lit(9600000L + i * 10000L)).as("doc_id"), col("text"))
      def runPolicy(name: String, foldWhen: (String, Int) => Boolean): Unit = {
        val ident = name.replaceAll("[^A-Za-z0-9]", "")
        val dir = java.nio.file.Files
          .createTempDirectory(s"probe_cio_$ident").toString + "/postings"
        val table = s"probe_cio_${ident}_$factor"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        graft.text.InvertedIndex.ensure(spark, seed, table, dir, buckets = 8)
        var foldIo = 0L
        var appended = 0L
        var folds = 0
        val t0 = System.nanoTime()
        for (i <- 1 to 12) {
          val tag = f"b$i%02d"
          graft.text.InvertedIndex.appendDelta(spark, dir, batchN(i), tag = tag)
          appended += graft.io.MutableStore.duBytes(
            java.nio.file.Paths.get(s"${dir}_deltas/$tag"))
          if (foldWhen(dir, i)) {
            graft.text.InvertedIndex.compactDeltas(spark, table, dir, buckets = 8)
            // the new version's write
            foldIo += graft.io.MutableStore.baseBytes(graft.text.InvertedIndex.layoutOf(dir))
            folds += 1
          }
        }
        println(f"[scale] compaction IO $name%-12s folds=$folds " +
          f"fold-write=${foldIo / 1e6}%8.1f MB appended=${appended / 1e6}%8.1f MB " +
          f"write/appended=${foldIo.toDouble / math.max(appended, 1L)}%5.2f " +
          f"(${(System.nanoTime() - t0) / 1e9}%6.2f s)")
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
      runPolicy("size-ratio", (dir, _) => {
        val store = graft.text.InvertedIndex.layoutOf(dir)
        graft.io.MutableStore.deltaBytes(store) >= graft.io.MutableStore.baseBytes(store)
      })
      runPolicy("count-4", (_, i) => i % 4 == 0)
    }

    // CDC MUTATION-STREAM cost vs base size (r14 VERDICT task 7): the
    // same 4-batch (add/del) feed applied to a small and a factor-sized
    // base — per-batch cost must be BATCH-proportional, flat in base
    // size (the delete leg is a batch-sized tokenize/encode + two tiny
    // writes, never an index scan; auto-compaction is disabled here —
    // its IO is the compactio probe's subject).
    if (onlyFilter.forall(_.exists("cdcstream".contains))) {
      def runBm25Stream(label: String, base: DataFrame): Unit = {
        val ident = label.replaceAll("[^A-Za-z0-9]", "")
        val root = java.nio.file.Files
          .createTempDirectory(s"probe_cdc_$ident").toString
        val dir = s"$root/postings"
        val table = s"probe_cdc_${ident}_$factor"
        spark.sql(s"DROP TABLE IF EXISTS $table")
        graft.text.InvertedIndex.ensure(spark, base, table, dir, buckets = 8)
        val seed = base.limit(500).localCheckpoint()
        def shifted(off: Long) = seed
          .select((col("doc_id") + lit(off)).as("doc_id"), col("text"))
        def op(o: String)(df: DataFrame) =
          df.select(lit(o).as("op"), col("doc_id"), col("text"))
        val b0 = op("add")(shifted(990000000L))
        val b1 = op("del")(shifted(990000000L).limit(250))
          .unionAll(op("add")(shifted(991000000L)))
        val b2 = op("add")(shifted(992000000L))
        val b3 = op("del")(shifted(992000000L).limit(250))
        val inDir = s"$root/in"
        Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
          b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
            .parquet(inDir) }
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.streamingPostingsMutations(
          spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir),
          table, dir, s"$root/chk", buckets = 8,
          maxDeltaDirs = 1000, compactBytesRatio = 1e9)
          .awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] cdcstream bm25 $label%-10s 4 batches ${sec}%7.2f s " +
          f"(${sec / 4}%5.2f s/batch)")
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
      val docsSmall = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      runBm25Stream("base=1x", docsSmall)
      runBm25Stream(s"base=${factor}x", docs)

      def runSq8Stream(label: String, base: DataFrame): Unit = {
        val ident = label.replaceAll("[^A-Za-z0-9]", "")
        val root = java.nio.file.Files
          .createTempDirectory(s"probe_cdcsq_$ident").toString
        val dir = s"$root/sq8"
        graft.index.Sq.ensureCodesArtifact(base, dir)
        val seed = base.limit(2000).localCheckpoint()
        def shifted(off: Long) = seed
          .select((col("vec_id") + lit(off)).as("vec_id"), col("embedding"))
        def op(o: String)(df: DataFrame) =
          df.select(lit(o).as("op"), col("vec_id"), col("embedding"))
        val b0 = op("add")(shifted(990000000L))
        val b1 = op("del")(shifted(990000000L).limit(1000))
          .unionAll(op("add")(shifted(991000000L)))
        val b2 = op("add")(shifted(992000000L))
        val b3 = op("del")(shifted(992000000L).limit(1000))
        val inDir = s"$root/in"
        Seq(b0, b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
          b.coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
            .parquet(inDir) }
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.streamingSq8Mutations(
          spark.readStream.schema(b0.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir),
          dir, s"$root/chk",
          maxDeltaDirs = 1000, compactBytesRatio = 1e9)
          .awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] cdcstream sq8  $label%-10s 4 batches ${sec}%7.2f s " +
          f"(${sec / 4}%5.2f s/batch)")
      }
      val embSmallBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      runSq8Stream("base=1x", embSmallBase)
      runSq8Stream(s"base=${factor * 10}x", emb)
    }

    // HNSW delta-probe FAN-OUT (r14 VERDICT task 8): probe latency vs
    // live-delta count — searchLayoutDeltaAware pays one scan +
    // graph-assembly leg per live delta, so the curve pins the
    // ratio/cap compaction choice with data. COLD = first probe at that
    // fan-out (pays per-delta graph assembly into the resident cache),
    // WARM = repeat probe (cache hits; the steady serving state).
    if (onlyFilter.forall(_.exists("hnswfan".contains))) {
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint()
      val nBase = base.count()
      val dim = base.head().getSeq[Float](1).length
      val p = graft.index.Hnsw.Params(m = 8, efConstruction = 64,
        parts = graft.index.Hnsw.autoParts(nBase, dim))
      val root = java.nio.file.Files
        .createTempDirectory("probe_hnswfan").toString
      val dir = s"$root/hnsw"
      graft.index.Hnsw.ensureLayout(base, dir, p)
      val q = base.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val deltaSeed = base.limit(1000).localCheckpoint()
      var appended = 0
      Seq(2, 8, 16).foreach { d =>
        while (appended < d) {
          appended += 1
          graft.index.Hnsw.appendDelta(spark, dir,
            deltaSeed.select(
              (col("vec_id") + lit(900000000L + appended * 10000L)).as("vec_id"),
              col("embedding")),
            tag = f"fan$appended%02d", p)
        }
        def probeOnce(): Double = {
          val t0 = System.nanoTime()
          graft.index.Hnsw.searchLayoutDeltaAware(spark, dir, q, 10, p).collect()
          (System.nanoTime() - t0) / 1e9
        }
        val cold = probeOnce()
        val warm = Seq(probeOnce(), probeOnce()).min
        println(f"[scale] hnsw delta fan-out d=$d%-3d cold=$cold%6.2f s warm=$warm%6.2f s")
      }
    }

    // IVF MANIFEST FOLD cost (r15 VERDICT task 1): the fold rewrites
    // ONLY the touched clusters — measured as written-bytes / base
    // bytes ≈ the touched fraction (1/nlist here: the delta is exact
    // copies of one vector, all landing in one cluster), never the
    // full base the old move-fold's replacement was feared to cost.
    if (onlyFilter.forall(_.exists("ivffold".contains))) {
      val base = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"), "vec_id", factor).localCheckpoint()
      val root = java.nio.file.Files
        .createTempDirectory("probe_ivffold").toString
      val dir = s"$root/layout"
      val layout = graft.index.Ivf.buildLayout(spark, base, dir,
        nlist = 8, maxIter = 3)
      val q = base.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val delta = base.filter(col("vec_id") === 0).crossJoin(spark.range(5000))
        .select((col("id") + lit(970000000L)).as("vec_id"), col("embedding"))
      graft.index.Ivf.appendDelta(layout, delta, tag = "f1")
      val baseB = graft.index.Ivf.baseBytes(layout)
      val t0 = System.nanoTime()
      graft.index.Ivf.compactDeltas(spark, layout)
      val sec = (System.nanoTime() - t0) / 1e9
      val written = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("_fold_v"))
        .map(f => graft.io.MutableStore.duBytes(f.toPath)).sum
      // probe correctness across the fold, for free
      val got = graft.index.Ivf.searchLayoutDeltaAware(
        spark, layout, q.toArray, 10, nprobe = 1).collect()
      require(got.length == 10 && got.head.getDouble(1) == 0.0)
      println(f"[scale] ivf manifest fold base=${baseB / 1e6}%8.1f MB " +
        f"written=${written / 1e6}%8.1f MB frac=${written.toDouble / baseB}%5.2f " +
        f"(expect ~1/8 + delta) in $sec%6.2f s")
    }

    // SNAPSHOT-PIN OVERHEAD (r15 VERDICT task 8): the micro cost of the
    // optimistic pin (double state read + catalog-location validation)
    // on a bm25 probe, and the retry rate under a compaction-heavy
    // concurrent mutation loop — the 8-attempt cap must never be the
    // operative bound (expected: ≲1 retry per actual commit).
    if (onlyFilter.forall(_.exists("pinoverhead".contains))) {
      val root = java.nio.file.Files
        .createTempDirectory("probe_pin").toString
      val dir = s"$root/postings"
      val docsPin = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).localCheckpoint()
      graft.text.InvertedIndex.ensure(spark, docsPin, "probe_pin_t", dir, buckets = 8)
      def probeOnce(): Double = {
        val t0 = System.nanoTime()
        graft.text.InvertedIndex.bm25SearchDeltaAware(
          spark, "probe_pin_t", dir, Seq("spark", "join")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      probeOnce() // warm
      val quiet = (0 until 10).map(_ => probeOnce()).min
      // a compaction-heavy writer loop races 40 probes
      graft.text.InvertedIndex.pinRetries.set(0L)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      var commits = 0
      val writer = new Thread(() => {
        var i = 0
        while (!stop.get() && i < 64) {
          i += 1
          graft.text.InvertedIndex.appendDelta(spark, dir,
            docsPin.limit(50)
              .select((col("doc_id") + lit(800000L + i * 1000L)).as("doc_id"),
                col("text")),
            tag = f"pin$i%02d")
          graft.text.InvertedIndex.compactDeltas(
            spark, "probe_pin_t", dir, buckets = 8)
          commits += 1
        }
      })
      writer.start()
      val contended = (0 until 40).map(_ => probeOnce()).min
      stop.set(true); writer.join()
      val retries = graft.text.InvertedIndex.pinRetries.get()
      println(f"[scale] pin overhead bm25 quiet=$quiet%6.3f s contended-min=$contended%6.3f s " +
        f"retries=$retries over 40 probes vs $commits commits")
    }

    // WAVE-COMPOSITOR OVERHEAD (r15 VERDICT task 4): a 128-wide batch
    // as two ≤64 waves vs the per-wave batch shape — the union must
    // cost ~2 waves, not a fresh plan cliff.
    if (onlyFilter.forall(_.exists("waveprobe".contains))) {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint()
      val dim = e.head().getSeq[Float](1).length
      val thr = graft.index.Binary.fitThresholds(e, dim)
      val sigs = graft.index.Binary.signatures(e, thr).localCheckpoint()
      val qs = e.filter(col("vec_id") < 128).collect()
        .map(r => (r.getLong(0),
          graft.index.Binary.signatureOf(r.getSeq[Float](1), thr)))
        .toIndexedSeq
      def t(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      def oneWave() = noop(
        graft.index.Binary.hammingTopKBatch(sigs, qs.take(64), 10))
      def waved() = noop(
        graft.index.Binary.hammingTopKBatchWaved(sigs, qs, 10))
      oneWave(); waved() // warm
      val w1 = Seq(t(oneWave()), t(oneWave())).min
      val w128 = Seq(t(waved()), t(waved())).min
      println(f"[scale] wave compositor hamming 64q=$w1%6.2f s " +
        f"128q(2 waves)=$w128%6.2f s ratio=${w128 / w1}%4.2f (expect ~2)")
    }

    // SPLIT-MANIFEST PIN ECONOMICS (r16 VERDICT task 5): the metadata
    // a probe reads to pin its base file set must scale with PROBED
    // clusters, not with total base size — grow the corpus 4× at fixed
    // nlist/nprobe and the pin bytes stay ~flat (the index json +
    // nprobe cluster manifests), while the full file list grows.
    if (onlyFilter.forall(_.exists("pinmeta".contains))) {
      def build(times: Int, tag: String): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"probe_pinmeta$tag").toString
        val dir = s"$root/corpus"
        val corpus = replicate(
          spark.read.parquet(s"$sfDir/embeddings.parquet")
            .select("vec_id", "embedding"), "vec_id", times)
          .localCheckpoint()
        val layout = graft.index.Ivf.buildLayout(spark, corpus, dir, nlist = 16)
        graft.index.Ivf.appendDelta(layout,
          corpus.limit(64).select(
            (col("vec_id") + lit(7700000L)).as("vec_id"), col("embedding")),
          tag = "m1")
        graft.index.Ivf.compactDeltas(spark, layout) // commits a split manifest
        dir
      }
      val small = build(1, "s")
      val big = build(4, "b")
      val probeTwo = Seq(0, 1)
      val s2 = graft.index.Ivf.pinMetadataBytes(small, probeTwo)
      val b2 = graft.index.Ivf.pinMetadataBytes(big, probeTwo)
      val sAll = graft.index.Ivf.pinMetadataBytes(small, (0 until 16).toSeq)
      val bAll = graft.index.Ivf.pinMetadataBytes(big, (0 until 16).toSeq)
      println(f"[scale] ivf pin metadata (nlist=16, nprobe=2): base1x=$s2 B " +
        f"base4x=$b2 B ratio=${b2.toDouble / s2}%4.2f (expect ~flat); " +
        f"full-list 1x=$sAll B 4x=$bAll B ratio=${bAll.toDouble / sAll}%4.2f")
    }

    // LEASE CONTENTION + FENCING COST (r16 VERDICT task 7): mutation
    // commit throughput under N concurrent NON-overlapping stores
    // (separate leases — no contention by design), and the marginal
    // cost of the fencing token-verify (one small lock-file read per
    // commit primitive) — confirm neither is a floor on CDC batch
    // latency (micro-batches run 100s of ms; commits must stay ~ms).
    if (onlyFilter.forall(_.exists("leasecontention".contains))) {
      val root = java.nio.file.Files
        .createTempDirectory("probe_lease").toString
      def commitLoop(dir: String, n: Int): Double = {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val t0 = System.nanoTime()
        (0 until n).foreach { i =>
          graft.io.MutableStore.withWriterLock(dir, "probe") {
            graft.io.MutableStore.commitLiveLists(
              dir, Seq(f"b$i%04d"), Seq.empty)
          }
        }
        (System.nanoTime() - t0) / 1e9
      }
      commitLoop(s"$root/warm", 50) // JIT warm
      val n = 200
      val seqSec = commitLoop(s"$root/solo", n)
      val threads = 8
      val times = new Array[Double](threads)
      val pool = (0 until threads).map { t =>
        new Thread(() => times(t) = commitLoop(s"$root/par$t", n))
      }
      val t0 = System.nanoTime()
      pool.foreach(_.start()); pool.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      // the fencing read in isolation: one small-file read + compare
      val lockProbe = java.nio.file.Paths.get(s"$root/lockread")
      java.nio.file.Files.writeString(lockProbe, "tok-123\nowner info")
      val r0 = System.nanoTime()
      var acc = 0
      (0 until 10000).foreach { _ =>
        acc += new String(
          java.nio.file.Files.readAllBytes(lockProbe), "UTF-8").length
      }
      val readUs = (System.nanoTime() - r0) / 1e3 / 10000
      println(f"[scale] lease commit cycle (acquire+commit+fenced-release): " +
        f"1 store ${seqSec / n * 1e3}%5.2f ms/commit; $threads disjoint stores " +
        f"concurrently ${wall / (threads * n) * 1e3}%5.2f ms/commit wall " +
        f"(per-thread mean ${times.sum / threads / n * 1e3}%5.2f ms); " +
        f"token-verify read $readUs%5.1f µs ($acc)")
    }

    // near-dup probes replicate at the doc factor: every replica pair IS
    // a true duplicate, so output volume grows quadratically in the
    // replication factor and would dominate the timing at 200×
    val embSmall = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding"), "vec_id", factor)
    time("SRP embedding near-dup")(noop(
      graft.dedup.Dedup.embeddingNearDups(embSmall, minCosine = 0.95)))

    time("exact dedup groups")(noop(
      graft.dedup.Dedup.exactDupGroups(docs)))

    // pair-finding probes run on the VARIED replication (disjoint
    // shingles across replica groups → linear pair volume); the
    // natural near-dups WITHIN each group still exercise the verify
    // stage at every factor
    lazy val docsVaried = replicateVaried(factor)

    time("MinHash near-dup")(noop(
      graft.dedup.Dedup.minHashNearDups(docsVaried, maxJaccardDist = 0.6)))

    time("winnowing overlap")(noop(
      graft.dedup.Dedup.winnowOverlapPairs(docsVaried, minShared = 3, maxFingerprintDf = 20L)))

    // duplicated spans: O(tokens) position explode + bucketed gram agg
    // + per-doc islands window — should scale with the explode, not the
    // (linear, by varied replication) duplicate volume
    time("duplicated spans")(noop(
      graft.dedup.Dedup.duplicatedSpans(docsVaried, n = 8)))

    // replicas are exact dups of their originals, so the curation chain's
    // exact-dedup stage collapses them BEFORE the expensive candidate
    // join — the probe demonstrates that the pipeline's quadratic-risk
    // stage only ever sees unique survivors
    time("curation pipeline")(noop(
      graft.text.Curation.curate(docs)))

    // synthetic 2M-node graph (400k size-5 path components): probes the
    // closure's join rounds at a row count where a non-distributed or
    // quadratic formulation would be obvious
    time("connected components 2M nodes")(noop {
      val edges = spark.range(2000000L).filter(col("id") % 5 =!= 4)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      graft.dedup.Dedup.connectedComponents(edges)
    })

    time("greedy packing 2048-tok bins")(noop {
      val d = docs.select(col("doc_id"),
        graft.text.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packGreedy(d, budget = 2048L, nParts = 64)
    })

    time("stratified sample + split")(noop {
      val d = docs.withColumn("grp", col("doc_id") % 1000)
      graft.ops.Sampling
        .stratifiedBernoulli(d, lit("en"), Map("en" -> 0.5), salt = "sp")
        .withColumn("split", graft.ops.Sampling.groupedSplit(col("grp")))
    })

    // replicas share every chunk with their original, so dedup volume is
    // maximal: the first-occurrence MIN and reassembly see the worst case
    time("chunk dedup + reassembly")(noop(
      graft.dedup.Dedup.chunkDedup(docs, chunkTokens = 25)))

    // cluster count grows with the corpus so the per-cluster quadratic
    // stays bounded — the SemDeDup scaling contract
    time("semantic dedup (k-means scoped)")(noop(
      graft.dedup.Dedup.semanticNearDups(embSmall, nClusters = 8 * factor,
        minCosine = 0.999, sampleFraction = math.min(1.0, 50000.0 / (nVec / 10)))))

    time("bigram LM scores")(noop(
      graft.text.TextAnalysis.bigramLmScores(docs)))

    // decontamination, exact vs bloom-prefiltered, on the varied
    // replication: the bench side stays FIXED (one replica group's
    // sampled docs) while the corpus grows with the factor — exactly
    // the 100 TB asymmetry. The exact form shuffles every corpus
    // shingle; the bloom form kills non-bench shingles map-side, so its
    // time should grow with the SCAN, not the shuffle.
    {
      lazy val benchSide = docsVaried.filter(col("doc_id") % 100 === 0)
        .filter(col("doc_id") < 1000000L) // first replica group only
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      time("decontaminate exact")(noop(
        graft.dedup.Dedup.crossCorpusOverlap(docsVaried, benchSide,
          n = 5, minShared = 2L, maxShingleDf = 500L)))
      time("decontaminate bloom")(noop(
        graft.dedup.Dedup.crossCorpusOverlapBloom(docsVaried, benchSide,
          n = 5, minShared = 2L, maxShingleDf = 500L)))
    }

    // incremental dedup: the new-crawl batch stays FIXED while the
    // corpus (and its persisted hash store) grows with the factor. The
    // probe's cost must grow with the store SCAN (narrow, map-side
    // semi join against the broadcast batch hashes) — contrast with
    // re-running exact dedup over corpus ∪ batch, which re-tokenizes
    // and re-shuffles all corpus text per batch.
    {
      lazy val storeDir =
        java.nio.file.Files.createTempDirectory(s"probe_hstore_$factor").toString
      lazy val batch = spark.read.parquet(s"$sfDir/documents.parquet")
        .select((col("doc_id") + lit(8000000L)).as("doc_id"), col("text"))
      // the build probe is a prerequisite of the batch-vs-store probe:
      // filter them together
      time("hash store build")(
        graft.dedup.Dedup.ensureHashStore(spark, docs, storeDir))
      time("incremental batch-vs-store")(noop(
        graft.dedup.Dedup.newAgainstStore(spark, storeDir, batch)))
      time("full re-dedup (contrast)")(noop(
        graft.dedup.Dedup.dedupExact(docs.unionByName(batch))))
    }

    // incremental NEAR-dup: same fixed-batch/growing-store asymmetry —
    // the posting store grows with the factor (varied corpus → linear
    // posting volume), the batch stays one replica group; probe cost
    // must grow with the posting SCAN (broadcast-semi, never shuffled)
    {
      lazy val shStoreDir =
        java.nio.file.Files.createTempDirectory(s"probe_shstore_$factor").toString
      lazy val shBatch = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + lit(8500000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit("g0_"), t))).as("text")) // group-0 vocabulary
      time("shingle store build")(
        graft.dedup.Dedup.ensureShingleStore(spark, docsVaried, shStoreDir))
      time("incremental near-dup batch")(noop(
        graft.dedup.Dedup.nearDupsAgainstShingleStore(spark, shStoreDir, shBatch)))
    }

    // PMI collocations on the varied replication: vocabulary AND pair
    // table grow linearly with the factor — the non-broadcast join path
    time("PMI collocations")(noop(
      graft.text.TextAnalysis.pmiPairs(docsVaried)))

    // phrase rewrite through the FUSED kernel (one hash-set probe per
    // token) over the id-replicated corpus: pure map-only pass; cost
    // must track the token volume linearly
    time("phrase rewrite (kernel)")(noop(
      graft.text.TextAnalysis.phraseRewriteWith(docs,
        Seq("merge sort", "hash join", "shuffle write", "broadcast join"))))

    // BPE on the id-replicated corpus: the corpus-sized word count
    // grows with the factor but the vocabulary (and so every merge
    // round) is CONSTANT — the Sennrich word-count trick measured
    time("BPE merges (6 rounds)")(
      graft.text.Bpe.learnMerges(docs, numMerges = 6).collect())

    // BPE tokenize: the word-cache fold is vocab-bounded (constant
    // here); cost must track the positional explode + broadcast join
    time("BPE tokenize (apply 6)")(noop {
      val merges = graft.text.Bpe.learnMerges(
        spark.read.parquet(s"$sfDir/documents.parquet"), numMerges = 6)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.applyMerges(docs, merges)
    })

    // BATCHED BPE at the realistic rule count (~90 rules in 8 rounds):
    // per-merge driver cost amortized ~11× vs the sequential trainer —
    // compare against "BPE merges (6 rounds)" above, which pays 6
    // driver rounds for 6 rules where this pays 8 for ~90. The corpus
    // pass still scales with the factor; the 8 vocab-table rounds are
    // constant-size.
    time("BPE batched merges (~90 rules)")(
      graft.text.Bpe.learnMergesBatched(docs,
        rounds = 8, batchSize = 16, candCap = 256).collect())

    // tokenize at the full rule count: 8 combined-fold vocab steps for
    // ~90 rules (vs one per rule — the round-grouped apply is what
    // makes a 32k-rule tokenizer a 64-step plan instead of 32k)
    time("BPE batched tokenize (~90)")(noop {
      val rounds = graft.text.Bpe.learnRounds(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        rounds = 8, batchSize = 16, candCap = 256)
        .map(_.map(t => (t._1, t._2)))
      graft.text.Bpe.applyMergesGrouped(docs, rounds)
    })

    // the VOCAB axis at depth: the varied replication multiplies the
    // distinct-word table by the factor (every replica group gets its
    // own g<i>_ token prefix), so batch-64 rounds have room to select
    // hundreds of rules — the closest this fixture gets to a
    // production-size merge list. Reported: rules learned + wall time
    // (per-rule cost must stay amortized at depth), then a tokenize
    // pass applying ALL of them in `rounds` combined folds.
    if (onlyFilter.forall(_.exists("BPE XL".contains))) {
      val t0 = System.nanoTime()
      val xl = graft.text.Bpe.learnRounds(docsVaried.localCheckpoint(),
        rounds = 16, batchSize = 64, candCap = 1024)
      val nRules = xl.map(_.size).sum
      println(f"[scale] BPE XL train (16 rounds x batch 64): $nRules rules " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"(yields ${xl.map(_.size).mkString(",")})")
      time(s"BPE XL tokenize ($nRules rules)")(noop(
        graft.text.Bpe.applyMergesGrouped(docsVaried,
          xl.map(_.map(t => (t._1, t._2))))))
    }

    // one tier past XL: ~2k rules at batch 256 — turns the 32k-rule
    // shape claim from extrapolation into measurement (per-rule cost
    // must stay flat vs the 359/443-rule XL runs; driver rounds stay
    // fixed regardless of how many rules each round yields). Per-round
    // yield is capped by the DISJOINT-rule budget the vocabulary
    // affords, so the 2k tier needs the 40x varied corpus (~1.2k
    // distinct words) and 40 rounds.
    if (onlyFilter.forall(_.exists("BPE XXL".contains))) {
      val t0 = System.nanoTime()
      val xxl = graft.text.Bpe.learnRounds(docsVaried.localCheckpoint(),
        rounds = 40, batchSize = 256, candCap = 4096)
      val nRules = xxl.map(_.size).sum
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] BPE XXL train (40 rounds x batch 256): $nRules rules " +
        f"in $secs%.2f s (${secs / math.max(1, nRules)}%.4f s/rule; " +
        f"yields ${xxl.map(_.size).mkString(",")})")
      time(s"BPE XXL tokenize ($nRules rules)")(noop(
        graft.text.Bpe.applyMergesGrouped(docsVaried,
          xxl.map(_.map(t => (t._1, t._2))))))
    }

    // EXTERNAL rank-ordered merge list (the inference kernel): the
    // 1.1k-rule shipped fixture applied as ONE codegen priority-loop
    // pass per DISTINCT word — cost must track the distinct-word
    // table (multiplied by the varied factor) plus the positional
    // join, NOT the rule count: the same probe restricted to the
    // first 100 rules must cost about the same, because rules size
    // only the executor-local hash map.
    if (onlyFilter.forall(_.exists("BPE ext".contains))) {
      val ext = graft.text.Bpe.externalFixtureMerges()
      time(s"BPE ext apply (${ext.size} rules)")(noop(
        graft.text.Bpe.applyMergesRanked(docsVaried, ext, maxIters = 24)))
      time("BPE ext apply (100 rules)")(noop(
        graft.text.Bpe.applyMergesRanked(docsVaried, ext.take(100), maxIters = 24)))
    }

    // the GPT-2 production path at scale: byte-level pretokens + the
    // external byte-level rank list through the same kernel — raw text
    // means the varied corpus's punctuation-free pretokens are longer
    // (prefix + word per pretoken), the cost still tracks distinct
    // pretokens + the positional join, not rules
    if (onlyFilter.forall(_.exists("BPE gpt2".contains))) {
      val ext = graft.text.ByteLevel.externalFixtureMerges()
      time(s"BPE gpt2 apply (${ext.size} rules)")(noop(
        graft.text.ByteLevel.applyMergesRanked(docsVaried, ext, maxIters = 32)))
    }

    // the PRODUCTION-SIZE external vocabulary end-to-end: a 50k-rule
    // rank-ordered byte-level list (GPT-2's published size) loaded
    // through the user entry point (loadMergesTxt on a merges.txt with
    // a #version header), applied by the priority-loop kernel, and
    // id-mapped through the HASHED vocab probe — per-word cost must
    // stay flat vs the 1.1k fixture, because rules size only the
    // executor-local hash maps (rank map ~2 MB, vocab map ~50k
    // entries), never the plan
    if (onlyFilter.forall(_.exists("BPE 50k".contains))) {
      val big = graft.tools.GenExtMerges.syntheticRankedByteLevel(50000)
      val f = java.nio.file.Files.createTempFile("merges50k", ".txt")
      java.nio.file.Files.writeString(f, "#version: 0.2\n" +
        big.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n"))
      val loaded = graft.text.Bpe.loadMergesTxt(f.toString)
      require(loaded == big, "merges.txt round-trip must preserve all 50k ranks")
      val small = graft.text.ByteLevel.externalFixtureMerges()
      time(s"BPE 50k tokenIds @${small.size} rules")(noop(
        graft.text.ByteLevel.tokenIds(docsVaried, small)))
      time(s"BPE 50k tokenIds @${loaded.size} rules")(noop(
        graft.text.ByteLevel.tokenIds(docsVaried, loaded)))
    }

    // the unigram-LM (SentencePiece-family) pipeline at scale: training
    // is one corpus-sized word count + vocab-bounded EM rounds (Viterbi
    // kernel per DISTINCT word, costs as a task-broadcast hash map);
    // tokenize rides the same word cache + positional join — cost must
    // track distinct words + the join, never vocab or round count
    if (onlyFilter.forall(_.exists("unigram".contains))) {
      val dv = docsVaried.localCheckpoint()
      val t0 = System.nanoTime()
      val vocab = graft.text.Unigram.trainVocab(dv,
          rounds = 2, maxPieceLen = 4, topMulti = 150)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      println(f"[scale] unigram train (2 EM rounds): ${vocab.size} pieces " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      time(s"unigram tokenize (${vocab.size} pieces)")(noop(
        graft.text.Unigram.tokenize(dv, vocab)))
      // id emission must cost the same word-cache pass + join — the
      // hashed piece->id probe adds O(1) per piece, nothing
      // vocab-proportional
      time(s"unigram tokenIds (${vocab.size} pieces)")(noop(
        graft.text.Unigram.tokenIds(dv, vocab)))
      // external-model apply at PRODUCTION vocabulary size: the fixture
      // model (~480 pieces) vs a synthetic 32k-piece Llama-sized model
      // round-tripped through the wire format — per-piece lattice and
      // id probes are hashed reference objects, so cost must be flat
      // in vocabulary size
      val small = graft.text.Unigram.externalFixtureModel()
      val big = graft.text.Unigram.parseModelProto(
        graft.tools.GenSpModel.encode(graft.tools.GenSpModel.syntheticModel(32000)))
      require(big.size == 3 + 256 + 32000, s"synthetic model size ${big.size}")
      time(s"unigram extModel tokenIds @${small.size} pieces")(noop(
        graft.text.Unigram.tokenIdsFromModel(dv, small)))
      time(s"unigram extModel tokenIds @${big.size} pieces")(noop(
        graft.text.Unigram.tokenIdsFromModel(dv, big)))
    }

    // the WordPiece (BERT-family) pipeline at scale: training rounds
    // are vocab-bounded (pair/single counts + 1-row argmax + one fold
    // over the DISTINCT-word table — never corpus-proportional per
    // round); greedy inference is one kernel per distinct word + the
    // positional join, and vocabulary size costs only the hashed
    // piece-set/ids reference objects — apply must be flat from the
    // 8-merge trained vocab to the 358-piece external fixture
    if (onlyFilter.forall(_.exists("wordpiece".contains))) {
      val dv = docsVaried.localCheckpoint()
      val t0 = System.nanoTime()
      val merges = graft.text.WordPiece.learnMerges(dv, numMerges = 8)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      println(f"[scale] wordpiece train (8 merges) " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val trained = graft.text.WordPiece.vocabWithIds(
        graft.text.WordPiece.alphabetOf(dv), merges)
      time(s"wordpiece tokenIds @${trained.size} pieces (trained)")(noop(
        graft.text.WordPiece.tokenIds(dv, trained)))
      val ext = graft.text.WordPiece.externalFixtureVocab()
      time(s"wordpiece tokenIds @${ext.size} pieces (ext vocab.txt)")(noop(
        graft.text.WordPiece.tokenIdsExternal(dv, ext)))
    }

    // tokenizer.json apply at scale: must match the native byte-level
    // ranked path (same kernel, same hashed probes) — the reader adds
    // parse-time work only, nothing per-row
    if (onlyFilter.forall(_.exists("hfjson".contains))) {
      val m = graft.text.HfTokenizer.externalFixture()
      time(s"hfjson tokenizer.json tokenIds @${m.vocabIds.size} vocab")(noop(
        graft.text.HfTokenizer.tokenIds(docsVaried, m)))
    }

    // binary signatures + Hamming retrieval at the replicated vector
    // corpus: the signature build is one narrow map over the corpus
    // (8 bytes out per row); the Hamming stage scans ONLY signatures
    // (bit_count(xor) + TakeOrdered); the rescore touches `shortlist`
    // full-precision rows via the pushed id filter — stage costs must
    // separate exactly that way
    if (onlyFilter.forall(_.exists("hamming".contains))) {
      val thr = graft.index.Binary.fitThresholds(emb, 64)
      val sigs = graft.index.Binary.signatures(emb, thr).localCheckpoint()
      val qsig = graft.index.Binary.signatureOf(query.toSeq, thr)
      time(s"hamming signature build ($nVec vectors)")(noop(
        graft.index.Binary.signatures(emb, thr)))
      time(s"hamming top-10 ($nVec sigs)")(noop(
        graft.index.Binary.hammingTopK(sigs, qsig, 10)))
      time(s"hamming->exact rescore (50 of $nVec)")(noop(
        graft.index.Binary.hammingRescoreTopK(
          emb, sigs, query.toSeq, thr, k = 10, shortlist = 50)))
    }

    // HNSW sharded graphs: construction is per-shard SEQUENTIAL (the
    // genuine mapPartitions case) but parallel across shards, so build
    // cost per node must stay near-flat between the two sizes (each
    // shard is O(n_p log n_p) graph work); the probe reads only the
    // persisted layout and shuffles <= parts*k candidate rows, so it
    // is graph-walk bounded — near-flat in corpus size.
    if (onlyFilter.forall(_.exists("hnsw".contains))) {
      val half = replicate(spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding"), "vec_id", factor * 5)
      val nHalf = half.count()
      // parts = max(integrity floor, build parallelism): autoParts is
      // the MINIMUM that keeps every shard file under the scan split
      // size (enforced by the probe-time part-count check); a build may
      // always choose MORE shards for insert parallelism — 16 here
      // keeps per-shard sequential construction at ~n/16 inserts
      val autoP = graft.index.Hnsw.autoParts(nVec, 64)
      val p = graft.index.Hnsw.Params(m = 8, efConstruction = 64,
        parts = math.max(autoP, 16))
      println(s"[scale] hnsw parts: autoParts=$autoP -> using ${math.max(autoP, 16)}")
      val dirA = java.nio.file.Files.createTempDirectory("graft_scale_hnsw_a")
      val dirB = java.nio.file.Files.createTempDirectory("graft_scale_hnsw_b")
      try {
        time(s"hnsw build ($nHalf vectors, 16 shards)")(
          graft.index.Hnsw.ensureLayout(half, dirA.toString, p))
        time(s"hnsw build ($nVec vectors, 16 shards)")(
          graft.index.Hnsw.ensureLayout(emb, dirB.toString, p))
        time(s"hnsw probe top-10 ($nVec vectors)")(noop(
          graft.index.Hnsw.searchLayout(spark, dirB.toString, query, 10, p)))
        time(s"hnsw probe top-10 ($nHalf vectors)")(noop(
          graft.index.Hnsw.searchLayout(spark, dirA.toString, query, 10, p)))
        // repeat probes hit the executor-resident graph cache: only the
        // layout scan + the walk remain
        time(s"hnsw probe top-10 warm ($nVec vectors)")(noop(
          graft.index.Hnsw.searchLayout(spark, dirB.toString, query, 10, p)))
      } finally {
        Seq(dirA, dirB).foreach(graft.io.MutableStore.deleteDir)
      }
    }

    // perceptual media signatures at corpus scale: dHash is one narrow
    // map over real raster bytes (8 bytes out/row); the near-dup pair
    // stage and the store probe scan ONLY signatures through the
    // banded join — pair volume is content-driven (varied rasters, a
    // 1-in-50 planted dup), never all-pairs; the incremental batch
    // probe must stay flat in store size
    if (onlyFilter.forall(_.exists("mediasig".contains))) {
      import spark.implicits._
      val nImg = 5000 * factor / 20
      val rasters = spark.range(nImg).map { id =>
        // varied content via the id-parameterized pixel arithmetic;
        // every 50th image duplicates id-1 at +1 brightness
        val base = (if (id % 50 == 49) id - 1L else id.toLong).toInt
        val bump = if (id % 50 == 49) 1 else 0
        val w = 8 + base % 23
        val h = 8 + base % 19
        graft.multimodal.Multimodal.MediaRecord(id, "image",
          graft.multimodal.MediaCodecs.ppmBytes(w, h, (x, y) =>
            (((base % 11 + 3) * x + (base % 13 + 5) * y + base) % 251 + bump,
             ((base % 13 + 5) * x + (base % 11 + 3) * y + 2 * base) % 241,
             ((base % 7 + 2) * (x + y) + 3 * base) % 239)),
          "{}")
      }
      val sigs = graft.multimodal.Multimodal.dHash(rasters).toDF()
        .select(col("media_id"), col("dhash").as("sig"))
        .localCheckpoint()
      time(s"media dHash build ($nImg rasters)")(noop(
        graft.multimodal.Multimodal.dHash(rasters).toDF()))
      time(s"media sig near-dup pairs ($nImg sigs)")(noop(
        graft.dedup.Dedup.sigNearDups(sigs, maxHamming = 3,
          idCol = "media_id")))
      val storeDir = java.nio.file.Files
        .createTempDirectory("graft_scale_sigstore").toString
      graft.dedup.Dedup.ensureSigStore(spark, sigs, storeDir)
      val batch = sigs.limit(1000).withColumn("media_id",
        col("media_id") + lit(10L * nImg))
      time(s"media sig batch probe (1k vs $nImg store)")(noop(
        graft.dedup.Dedup.incrementalSigDedupBatch(
          spark, storeDir, batch, "scaleprobe")))
      val nClip = nImg
      val clips = spark.range(nClip).map { id =>
        val base = id.toInt
        val n = 150 + base % 60
        val smp = Array.tabulate(n)(j =>
          (((j * 37L + base * 101L) % 3001L) - 1500L).toShort)
        graft.multimodal.Multimodal.MediaRecord(id, "audio",
          graft.multimodal.MediaCodecs.wavPcmBytes(8000, smp), "{}")
      }
      time(s"audio fingerprint build ($nClip clips)")(noop(
        graft.multimodal.Multimodal.audioFingerprint(clips).toDF()))
    }

    // z-order layout stats: raw rows grow with the factor, but the
    // only window runs over the occupied-cell table (≤ 2^20 rows at
    // any corpus size) — cost must track the one bucketing aggregation
    // Kneser-Ney scoring in the DSIR shape: the model trains on the
    // UN-replicated curated slice (broadcast — four small tables), the
    // replicated corpus scores under it. Cost must be linear in the
    // score corpus; the model side is constant.
    time(s"KN bigram score ($nDoc docs, curated model)")(noop(
      graft.text.TextAnalysis.knBigramScores(
        docs, spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"))))

    // trigram KN: six model aggregates off the curated slice, the
    // score side linear in corpus trigram volume
    time(s"KN trigram score ($nDoc docs, curated model)")(noop(
      graft.text.TextAnalysis.knTrigramScores(
        docs, spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text"))))

    // TextRank: the one co-occurrence aggregation is corpus-sized; all
    // 5 walk rounds run on the vocab-bounded edge set — near-flat in
    // corpus beyond the aggregation
    time(s"textrank keywords ($nDoc docs)")(noop(
      graft.text.TextAnalysis.textRank(docs, window = 3, minCount = 5L,
        iters = 5, topK = 20)))

    // quantized-Lloyd k-means: per round one narrow assignment map
    // (k*d literals) + one (cluster, dim) integer aggregation — cost
    // linear in vectors, flat in k*d driver state
    time(s"quantized kmeans k=4 iters=3 ($nVec vectors)")(noop(
      graft.ops.QuantKMeans.fitAssign(emb, k = 4, iters = 3, dim = 64)))

    // SFT masking: turn explode (narrow) + word-cache tokenization
    // (per DISTINCT pretoken) + one per-conversation groupBy — linear
    // in corpus, sublinear in repeated content
    time(s"sft mask+ids ($nDoc docs)")(noop(
      graft.text.Sft.maskedTokenIds(docsVaried,
        graft.text.ByteLevel.externalFixtureMerges())))

    time("zorder layout stats")(noop {
      val ev = replicate(spark.read.parquet(s"$sfDir/events.parquet")
        .select("event_id", "user_id", "value"), "event_id", factor)
      graft.ops.ZOrder.layoutStats(ev, "user_id", "value")
    })

    time("perplexity buckets (ntile)")(noop(
      graft.text.TextAnalysis.perplexityBuckets(
        docs.withColumn("source", (col("doc_id") % 7).cast("string")))))

    // leakage-split shape (corpus_split minus the artifact cache): the
    // candidate-pair join + connected components + grouped-split join,
    // on the varied replication (linear pair volume)
    time("leakage split (pairs+CC+join)")(noop {
      val pairs = graft.dedup.Dedup.ngramJaccardPairs(docsVaried, n = 3,
          minJaccard = 0.3, maxShingleDf = 500L)
        .select("id_a", "id_b")
      val cc = graft.dedup.Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      docsVaried.join(cc, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split", graft.ops.Sampling.groupedSplit(col("grp"), salt = "sp1"))
        .select("doc_id", "grp", "split")
    })

    time("epoch upsample + shuffle order")(noop {
      val d = docs.withColumn("source", concat(lit("src"), col("doc_id") % 4))
      graft.ops.Sampling.shuffleOrder(
        graft.ops.Sampling.upsampleToMixture(d, "source",
          Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.3), maxEpochs = 3))
    })

    // multimodal decode at scale: real-codec blobs (MJPEG / WAV / PNG,
    // id-derived shapes) decoded and frame-sampled — narrow
    // mapPartitions passes that must stay linear in rows
    {
      import spark.implicits._
      val media = spark.range(10000L * factor).map { id =>
        val w = 16 + (id % 640).toInt
        val h = 16 + (id % 480).toInt
        (id % 3) match {
          case 0 => graft.multimodal.Multimodal.MediaRecord(
            id, "video", graft.multimodal.MediaCodecs.mjpegBytes(w, h, 1 + (id % 8).toInt), "{}")
          case 1 => graft.multimodal.Multimodal.MediaRecord(
            id, "audio", graft.multimodal.MediaCodecs.wavBytes(1 + (id % 2).toInt, 8000, 16, 50 + (id % 200).toInt), "{}")
          case _ => graft.multimodal.Multimodal.MediaRecord(
            id, "image", graft.multimodal.MediaCodecs.pngBytes(w, h), "{}")
        }
      }
      time(s"media decode+frames ${10 * factor}k blobs") {
        noop(graft.multimodal.Multimodal.decode(media).toDF())
        noop(graft.multimodal.Multimodal.sampleFrames(media).toDF())
      }
    }

    // the window-rank top-k rewrite must keep firing AT SCALE, under AQE,
    // where it matters: per-hour user counts over a factor×-replicated
    // events table, written in the naive row_number form. The executed
    // plan must contain the bounded row_topk aggregate — a per-group
    // sort here is the shape that melts at 100 TB.
    {
      org.apache.spark.sql.graft.TopKWindowRewrite.enable(spark)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val events = replicate(
        graft.queries.Fixtures.fixEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
          .select("user_id", "ts"), "user_id", factor)
      val counts = events.groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hour")).orderBy(col("n_events").desc, col("user_id").asc)
      val top3 = counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      time(s"window top-3 rewrite ${factor}x")(noop(top3))
      val plan = top3.queryExecution.executedPlan.toString
      val fired = plan.contains("row_topk") && !plan.contains("Window")
      println(s"[scale] row_topk in executed plan at ${factor}x: $fired")
      if (!fired) {
        System.err.println(s"[scale] TopKWindowRewrite DID NOT FIRE at ${factor}x:\n$plan")
        spark.stop() // graceful shutdown (temp/event-log cleanup) before the hard exit
        sys.exit(1)
      }
    }

    // wordcount shape at scale: the token-frequency spectrum over
    // content-varied replicas (per-group prefixes grow the vocabulary
    // linearly with the factor, the honest fixture for an explode +
    // two-level aggregation)
    {
      val docsVaried = replicateVaried(factor)
      time(s"token spectrum (varied) ${factor}x")(
        noop(graft.text.TextAnalysis.tokenFrequencySpectrum(docsVaried)))
    }

    // star join at scale: fact tables replicated factor× (orderkeys
    // shifted so the join fans out, not up), dimensions constant — the
    // work that grows is exactly the lineitem pass + the broadcast
    // probes + the 5-group aggregate, so the time should track the
    // factor linearly. A super-linear jump here would mean the join
    // plan degraded (lost broadcast, shuffled the fact twice).
    {
      // both sides of the orderkey join must shift by the SAME stride,
      // or replica groups would only join within rep 0
      def replicateKey(df: DataFrame, keyCol: String): DataFrame =
        df.crossJoin(spark.range(factor).select(col("id").as("_rep")))
          .withColumn(keyCol, col(keyCol) + col("_rep") * lit(100000000L))
          .drop("_rep")
      val li = replicateKey(spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey")
      val ord = replicateKey(spark.read.parquet(s"$sfDir/orders.parquet"), "o_orderkey")
      val rev = graft.ops.Relational.nationRevenue(
        li, ord,
        spark.read.parquet(s"$sfDir/customer.parquet"),
        spark.read.parquet(s"$sfDir/supplier.parquet"),
        spark.read.parquet(s"$sfDir/nation.parquet"),
        spark.read.parquet(s"$sfDir/region.parquet"),
        regionName = "ASIA", orderYear = 1997)
      time(s"tpch star join ${factor}x")(noop(rev))
    }

    // KN span scrub at scale: the spans plan + one doc-keyed reassembly
    // agg over content-varied replicas — must stay linear in docs
    {
      val docsVaried = replicateVaried(factor)
      val train = docsVaried.filter(col("doc_id") % 5 === 0)
      time(s"KN span scrub (varied) ${factor}x")(noop(
        graft.text.TextAnalysis.knSpanScrub(docsVaried, train, windowTokens = 32)))
    }

    // fuzzy self-pairs at scale: registry names REBUILT from the
    // shifted keys (replica names distinct — id-only replication would
    // make every replica set an ed-0 clique and the output quadratic);
    // the id space is sparse per replica so near-pair volume stays
    // linear. This is ALSO the fixture that killed the first (PassJoin
    // segment) blocking: the constant 'Customer#' half put all rows in
    // one bucket and the join went quadratic — deletion-neighborhood
    // signatures carry the digits' entropy, so the probe must be flat
    {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet").select("c_custkey")
      val reg = replicate(cust, "c_custkey", factor)
        .select(col("c_custkey"),
          format_string("Customer#%09d", col("c_custkey")).as("c_name"))
      time(s"fuzzy self-pairs ${factor}x")(noop(
        graft.ops.FuzzyJoin.fuzzySelfPairs(reg, "c_custkey", "c_name", maxDist = 1)))
    }

    // LR training at scale: 5 GD rounds, each ONE narrow scan + one
    // 17-column partial agg over the cached feature table — round cost
    // must track corpus size linearly, weights stay driver-side
    {
      val d = replicateVaried(factor).withColumn("lang",
        when(col("doc_id") % 3 === 0, lit("en")).otherwise(lit("xx")))
      val vocab = graft.text.LogReg.topVocab(d, 16)
      val feats = graft.text.LogReg.features(d, vocab, col("lang") === "en")
      time(s"LR train 5 rounds ${factor}x")(
        graft.text.LogReg.trainLogistic(feats, vocab.length + 1, iters = 5))
    }

    spark.stop()
  }
}
