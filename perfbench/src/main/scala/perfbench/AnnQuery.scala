package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.index.{Hnsw, Ivf}
import graft.ops.VectorSearch

/** `ann_query`: 16-query batches against persisted IVF and HNSW layouts
  * of one clustered corpus. Nothing is mutated, and the corpus fits the
  * executor-resident HNSW graph cache, so this is the hot-cache read
  * path: the work is the `index` layer, the `functions` kernels and the
  * Spark scan. One request sends the same batch to IVF, then to HNSW. */
final class AnnQuery(spark: SparkSession, work: Path, seed: Long, tracer: Tracer,
    val n: Int, val nlist: Int) extends Workload {
  private val dim = 64
  private val k = 10
  private val nprobe = 4
  private val batch = 16
  private val nBatches = 8
  private val hp = Hnsw.Params(m = 8, efConstruction = 64, parts = Hnsw.autoParts(n, dim))
  private val ef = 64

  private val gen = new Gen.Vectors(seed, dim, centers = math.max(4, nlist / 4))
  private var corpus: Array[Array[Float]] = _
  private var queries: IndexedSeq[Seq[(Long, Array[Float])]] = _
  private var layout: Ivf.Layout = _
  private var hnswDir: String = _
  private var truth: Map[Long, Seq[(Long, Double)]] = _
  private val truthMs = collection.mutable.ArrayBuffer.empty[Double]
  private var setupDir: Path = _
  private val recalls = collection.mutable.Map("ivf" -> Vector.empty[Double], "hnsw" -> Vector.empty[Double])

  def sizes: ListMap[String, Any] = ListMap("vectors" -> n, "dim" -> dim, "nlist" -> nlist,
    "nprobe" -> nprobe, "k" -> k, "batch_queries" -> batch, "distinct_batches" -> nBatches,
    "hnsw_parts" -> hp.parts)

  def setup(rep: Int): Unit = {
    setupDir = work.resolve(s"ann/rep$rep")
    val r = new SplittableRandom(seed * 31 + 1)
    val corpusDir = setupDir.resolve("corpus").toString
    step("generate") {
      corpus = Array.fill(n)(gen.draw(r))
      queries = (0 until nBatches).map(b =>
        (0 until batch).map(j => ((b * batch + j).toLong, gen.draw(r))))
      Workload.vectorFrame(spark, corpus.indices.map(i => (i.toLong, corpus(i))))
        .write.parquet(corpusDir)
    }
    val df = spark.read.parquet(corpusDir)
    layout = step("ivf.buildLayout") {
      Ivf.buildLayout(spark, df, setupDir.resolve("ivf").toString, nlist, maxIter = 5)
    }
    hnswDir = setupDir.resolve("hnsw").toString
    step("hnsw.ensureLayout") { Hnsw.ensureLayout(df, hnswDir, hp) }
    val qDf = qFrame(queries.flatten)
    val rows = step("knnJoinAgg") { VectorSearch.knnJoinAgg(qDf, df, k).collect() }
    truthMs += setupSteps("knnJoinAgg")
    truth = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(x => (x.getAs[Long]("vec_id"), x.getAs[Double]("dist"))).toSeq
    }
  }

  private def qFrame(qs: Seq[(Long, Array[Float])]) = Workload.vectorFrame(spark, qs)
    .withColumnRenamed("vec_id", "query_id").withColumnRenamed("embedding", "q_embedding")

  private def ivf(b: Int) = tracer.span("index", "ivf.searchLayoutBatch", batch) {
    Ivf.searchLayoutBatch(spark, layout, qFrame(queries(b)), k, nprobe).collect()
  }

  private def hnsw(b: Int) = tracer.span("index", "hnsw.searchLayoutBatch", batch) {
    Hnsw.searchLayoutBatch(spark, hnswDir, queries(b), k, hp, ef).collect()
  }

  def warmup(): Unit = { ivf(0); hnsw(0) }

  /** k rows per query, ranks 1..k, every distance exact for its id;
    * returns the batch's mean recall@k against the set-up ground truth,
    * or None when a check failed. */
  private def check(rows: Array[org.apache.spark.sql.Row], b: Int): Option[Double] = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    val qs = queries(b)
    val ok = byQ.size == qs.length && qs.forall { case (qid, qv) =>
      byQ.get(qid).exists { rs =>
        rs.length == k && rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to k) &&
          rs.forall { x =>
            val id = x.getAs[Long]("vec_id")
            id >= 0 && id < n && Gen.l2Sq(qv, corpus(id.toInt)) == x.getAs[Double]("dist")
          }
      }
    }
    if (!ok) None
    else Some(qs.map { case (qid, _) =>
      val want = truth(qid).map(_._1).toSet
      byQ(qid).count(x => want.contains(x.getAs[Long]("vec_id"))).toDouble / k
    }.sum / qs.length)
  }

  def request(i: Int): Req = {
    val b = i % nBatches
    val (ivfRows, ivfMs) = Workload.time(ivf(b))
    val (hnswRows, hnswMs) = Workload.time(hnsw(b))
    val rIvf = check(ivfRows, b)
    val rHnsw = check(hnswRows, b)
    rIvf.foreach(x => recalls("ivf") :+= x)
    rHnsw.foreach(x => recalls("hnsw") :+= x)
    // a recall this low means the index returned the wrong neighbours,
    // not that it traded a little accuracy for speed
    val ok = rIvf.exists(_ >= 0.5) && rHnsw.exists(_ >= 0.5)
    Req(ListMap("ivf" -> ivfMs, "hnsw" -> hnswMs), batch, ok)
  }

  /** The ground truth itself, for a sample of queries, against a plain
    * brute force over the generated corpus. */
  def finalChecks(): Seq[(String, Boolean)] = {
    val rows = corpus.indices.map(i => (i.toLong, corpus(i)))
    val sample = queries.flatten.take(8)
    Seq("ground_truth_matches_brute_force" -> sample.forall { case (qid, qv) =>
      Gen.topK(rows, qv, k) == truth(qid)
    })
  }

  private def meanRecall(f: String) =
    if (recalls(f).isEmpty) 0.0 else recalls(f).sum / recalls(f).length

  def quality: Double = (meanRecall("ivf") + meanRecall("hnsw")) / 2

  def detail(reqs: Seq[Req]): ListMap[String, Any] = ListMap(
    "ivf_batch_ms" -> Stats.summary(reqs.map(_.parts("ivf"))),
    "hnsw_batch_ms" -> Stats.summary(reqs.map(_.parts("hnsw"))),
    "ivf_recall_at10" -> meanRecall("ivf"),
    "hnsw_recall_at10" -> meanRecall("hnsw"),
    "ground_truth_ms" -> Stats.summary(truthMs.toSeq))

  def perLayer(t: Tracer, p: Probe): ListMap[String, Double] = {
    val iv = TraceSummary.call(t, p, "ivf.searchLayoutBatch")
    val hn = TraceSummary.call(t, p, "hnsw.searchLayoutBatch")
    val (ivfFiles, ivfBytes) = Workload.du(setupDir.resolve("ivf"))
    val (hnswFiles, hnswBytes) = Workload.du(setupDir.resolve("hnsw"))
    ListMap(
      "index.ivf.probe_ms" -> iv.meanMs,
      "index.hnsw.probe_ms" -> hn.meanMs,
      "index.ivf.files_scanned_per_batch" -> iv.filesPerCall,
      "index.ivf.candidates_per_result" -> iv.rowsPerItem / k,
      "index.hnsw.candidates_per_result" -> hn.rowsPerItem / k,
      "functions.exact_pairs_per_s" ->
        queries.map(_.length).sum.toDouble * n / (Stats.median(truthMs.toSeq) / 1000),
      "io.store_files" -> (ivfFiles + hnswFiles).toDouble,
      "io.store_bytes" -> (ivfBytes + hnswBytes).toDouble,
      "io.space_amp" -> (ivfBytes + hnswBytes).toDouble / (n.toDouble * (8 + 4 * dim)))
  }
}
