package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.index.Ivf
import graft.perfbench.StoreState
import graft.streaming.StreamingIngest

/** `cdc_mutate`: a fixed, seeded schedule of add/delete micro-batches
  * through the IVF CDC sink, each followed by one read-after-write
  * probe. The schedule restarts from a fresh copy of the set-up layout
  * (a cycle), so every cycle does the same work; `maxDeltaDirs` is set so
  * the last batch of a cycle compacts. The work is driver-side `io` and
  * `streaming` metadata plus many small Spark jobs, and every probe reads
  * newly written legs, so no cache helps. */
final class CdcMutate(spark: SparkSession, work: Path, seed: Long, tracer: Tracer,
    val n0: Int, val nlist: Int, val batchesPerCycle: Int) extends Workload {
  private val dim = 64
  private val k = 10
  private val nprobe = 4
  private val adds = 128
  private val dels = 16
  // the last batch of every cycle compacts; the median request is a plain one
  private val maxDeltaDirs = batchesPerCycle - 1
  // the sink's compaction trigger; warm-up lowers it to compact sooner
  private var compactAt = maxDeltaDirs

  private val gen = new Gen.Vectors(seed, dim, centers = math.max(4, nlist / 4))
  private var base: Array[Array[Float]] = _
  private var baseLayout: Path = _

  // state of the current cycle; `live` is the generator's model of the store
  private var cycle = -1
  private var inCycle = 0
  private var cycleDir: Path = _
  private var rng: SplittableRandom = _
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var liveIds = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L

  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val ioSamples = mutable.ArrayBuffer.empty[ListMap[String, Double]]

  private val schema = StructType(Seq(StructField("op", StringType),
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  def sizes: ListMap[String, Any] = ListMap("base_vectors" -> n0, "dim" -> dim,
    "nlist" -> nlist, "nprobe" -> nprobe, "adds_per_batch" -> adds, "deletes_per_batch" -> dels,
    "batches_per_cycle" -> batchesPerCycle, "max_delta_dirs" -> maxDeltaDirs)

  def setup(rep: Int): Unit = {
    val dir = work.resolve(s"cdc/rep$rep")
    val r = new SplittableRandom(seed * 31 + 2)
    val corpusDir = dir.resolve("corpus").toString
    step("generate") {
      base = Array.fill(n0)(gen.draw(r))
      Workload.vectorFrame(spark, base.indices.map(i => (i.toLong, base(i)))).write.parquet(corpusDir)
    }
    baseLayout = dir.resolve("layout")
    step("ivf.buildLayout") {
      Ivf.buildLayout(spark, spark.read.parquet(corpusDir), baseLayout.toString, nlist, maxIter = 5)
    }
  }

  private def layoutDir = cycleDir.resolve("layout")

  private def startCycle(): Unit = {
    if (cycleDir != null) Workload.deleteTree(cycleDir)
    cycle += 1
    inCycle = 0
    cycleDir = work.resolve(s"cdc/cycle$cycle")
    Workload.copyTree(baseLayout, layoutDir)
    Files.createDirectories(cycleDir.resolve("in"))
    Files.createDirectories(cycleDir.resolve("staging"))
    rng = new SplittableRandom(seed * 31 + 3)
    live.clear()
    base.indices.foreach(i => live(i.toLong) = base(i))
    liveIds = mutable.ArrayBuffer.from(live.keys)
    nextId = n0.toLong
  }

  /** Lands one batch file: written aside, then moved into the watched
    * directory in one step, as an upstream CDC producer would. */
  private def land(rows: Seq[(String, Long, Array[Float])]): Unit = {
    val name = f"batch-$inCycle%05d.json"
    val tmp = cycleDir.resolve("staging").resolve(name)
    val sb = new StringBuilder
    rows.foreach { case (op, id, v) =>
      sb.append("{\"op\":\"").append(op).append("\",\"vec_id\":").append(id)
        .append(",\"embedding\":").append(v.mkString("[", ",", "]")).append("}\n")
    }
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, cycleDir.resolve("in").resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One micro-batch through the sink: from the landed file to
    * `awaitTermination` returning. Returns (ms, failure). */
  private def microBatch(): (Double, Option[Throwable]) = Workload.time {
    val q = tracer.span("streaming", "streamingIvfMutations") {
      StreamingIngest.streamingIvfMutations(
        spark.readStream.schema(schema).json(cycleDir.resolve("in").toString),
        layoutDir.toString, cycleDir.resolve("chk").toString, maxDeltaDirs = compactAt)
    }
    tracer.tagOp("run_id", q.runId.toString)
    val failure =
      try { tracer.span("streaming", "awaitTermination")(q.awaitTermination()); q.exception }
      catch { case e: Exception => Some(e) }
    failure
  }.swap

  private def probe(qv: Array[Float], np: Int) = tracer.span("index", "ivf.searchLayoutDeltaAware", 1) {
    Ivf.searchLayoutDeltaAware(spark, Ivf.loadLayout(layoutDir.toString), qv, k, np)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("dist")))
  }

  /** Two batches on a throwaway copy of the layout, the second one
    * compacting, so the timed requests run no code path for the first
    * time: after a single warm-up batch, the first delta-aware probe and
    * the first compaction fell inside the timed cycle. */
  def warmup(): Unit = {
    startCycle()
    compactAt = 1
    try (0 until 2).foreach(_ => request(-1)) finally compactAt = maxDeltaDirs
    cycleDir = { Workload.deleteTree(cycleDir); null }
    cycle = -1
    recalls.clear()
  }

  override def atBoundary: Boolean = inCycle == 0 || inCycle == batchesPerCycle

  def request(i: Int): Req = {
    if (cycleDir == null || inCycle == batchesPerCycle) startCycle()
    val added = (0 until adds).map { _ => nextId += 1; (nextId, gen.draw(rng)) }
    val deleted = (0 until dels).map { _ =>
      val j = rng.nextInt(liveIds.length)
      val id = liveIds(j)
      liveIds(j) = liveIds.last
      liveIds.remove(liveIds.length - 1)
      id
    }
    land(deleted.map(id => ("del", id, live(id))) ++ added.map { case (id, v) => ("add", id, v) })
    inCycle += 1
    val (batchMs, failure) = microBatch()
    failure.foreach(e => System.err.println(s"micro-batch failed: $e"))
    deleted.foreach(live.remove)
    added.foreach { case (id, v) => live(id) = v; liveIds += id }

    // read-after-write: the last added vector must come back as its own
    // nearest neighbour, with only live ids and exact distances around it
    val (newId, qv) = added.last
    val (got, probeMs) = Workload.time(probe(qv, nprobe))
    val ok = failure.isEmpty && got.length == k && got.head == ((newId, 0.0)) &&
      got.forall { case (id, d) => live.get(id).exists(v => Gen.l2Sq(qv, v) == d) }
    val want = Gen.topK(live, qv, k).map(_._1).toSet
    recalls += got.count(x => want.contains(x._1)).toDouble / k
    Req(ListMap("batch" -> batchMs, "probe" -> probeMs), adds + dels, ok)
  }

  override def sample(): Unit = if (cycleDir != null) {
    val dir = layoutDir.toString
    val (st, stateMs) = Workload.time(tracer.span("io", "MutableStore.state")(StoreState.read(dir)))
    val (_, walkMs) = Workload.time(tracer.span("io", "Ivf.deltaBytes+baseBytes") {
      val layout = Ivf.loadLayout(dir)
      Ivf.deltaBytes(layout) + Ivf.baseBytes(layout)
    })
    val (files, bytes) = Workload.du(layoutDir)
    ioSamples += ListMap(
      "io.state_read_ms" -> stateMs,
      "io.size_walk_ms" -> walkMs,
      "io.live_legs" -> st.liveLegs.toDouble,
      "io.tombstones" -> st.tombstones.toDouble,
      "io.retained_versions" -> st.retainedVersions.toDouble,
      "io.store_files" -> files.toDouble,
      "io.store_bytes" -> bytes.toDouble,
      "io.space_amp" -> bytes.toDouble / (live.size.toDouble * (8 + 4 * dim)))
  }

  /** After the schedule: an exhaustive delta-aware probe must equal brute
    * force over the generator's model of the live set. */
  def finalChecks(): Seq[(String, Boolean)] = {
    if (cycleDir == null) return Seq("probe_equals_brute_force" -> false)
    val q = gen.draw(new SplittableRandom(seed * 31 + 4))
    Seq("probe_equals_brute_force" -> (probe(q, nlist).toSeq == Gen.topK(live, q, k)))
  }

  def quality: Double =
    if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length

  def detail(reqs: Seq[Req]): ListMap[String, Any] = {
    val batchMs = reqs.map(_.parts("batch"))
    ListMap(
      "batch_ms" -> Stats.summary(batchMs),
      "read_after_write_ms" -> Stats.summary(reqs.map(_.parts("probe"))),
      "rows_mutated_per_s" -> reqs.map(_.items).sum / (batchMs.sum / 1000),
      "read_after_write_recall_at10" -> quality,
      "cycles" -> (cycle + 1))
  }

  def perLayer(t: Tracer, p: Probe): ListMap[String, Double] = {
    val pr = TraceSummary.call(t, p, "ivf.searchLayoutDeltaAware")
    val start = TraceSummary.call(t, p, "streamingIvfMutations")
    val io = ioSamples.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
      .map(key => key -> (if (key.endsWith("_ms")) Stats.median(ioSamples.map(_(key)).toSeq)
        else ioSamples.last(key)))
    ListMap(
      "index.ivf.probe_ms" -> pr.meanMs,
      "index.ivf.files_scanned_per_batch" -> pr.filesPerCall,
      "index.ivf.candidates_per_result" -> pr.rowsPerItem / k,
      "streaming.start_ms" -> start.meanMs) ++
      TraceSummary.streaming(t, p) ++ io
  }
}
