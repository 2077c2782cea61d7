package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.text.{Curation, TextAnalysis}

/** `corpus_curate`: the whole curation chain over an English-like corpus
  * with planted exact and near duplicates, materialized, repeated. The
  * work is executor-side `text` kernels and `dedup` shuffles; no store
  * and no index is touched, so `io`/`index` changes should read as no
  * change here. */
final class CorpusCurate(spark: SparkSession, work: Path, seed: Long, tracer: Tracer,
    val nDocs: Int) extends Workload {
  private var corpus: Gen.Corpus = _
  private var docsDir: String = _
  private val stageMs = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  private val agreement = mutable.ArrayBuffer.empty[Double]

  def sizes: ListMap[String, Any] = ListMap("docs" -> nDocs) ++ (if (corpus == null) Nil else
    Seq("families" -> corpus.families, "junk_docs" -> corpus.junk,
      "expected_kept" -> corpus.expectedKept.size))

  def setup(rep: Int): Unit = {
    corpus = step("generate")(Gen.corpus(seed, nDocs))
    docsDir = work.resolve(s"curate/rep$rep/docs").toString
    import spark.implicits._
    step("write")(corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text").write.parquet(docsDir))
  }

  private def curate(): Set[Long] = tracer.span("text", "Curation.curate") {
    Curation.curate(spark.read.parquet(docsDir)).select("doc_id").collect().map(_.getLong(0)).toSet
  }

  def warmup(): Unit = (0 until 2).foreach(_ => curate())

  def request(i: Int): Req = {
    val (kept, ms) = Workload.time(curate())
    val want = corpus.expectedKept
    agreement += (kept & want).size.toDouble / (kept | want).size
    Req(ListMap("curate" -> ms), nDocs, kept == want)
  }

  /** The public stage functions `Curation.curate` composes, each timed
    * alone on the materialized output of the stage before it. */
  override def tracedExtras(): Unit = (0 until 2).foreach { _ =>
    tracer.op("stages") {
      def stage[T](layer: String, name: String)(body: => T): T = {
        val (v, ms) = Workload.time(tracer.span(layer, name)(body))
        stageMs(name) :+= ms
        v
      }
      val docs = spark.read.parquet(docsDir)
      val gated = stage("text", "gate") {
        docs.filter(TextAnalysis.languageId(col("text")) === "en" &&
          TextAnalysis.qualityScore(col("text")) >= 0.5).localCheckpoint()
      }
      val exact = stage("dedup", "dedupExact")(Dedup.dedupExact(gated).localCheckpoint())
      val pairs = stage("dedup", "ngramJaccardPairs") {
        Dedup.ngramJaccardPairs(exact, n = 3, minJaccard = 0.3, maxShingleDf = 500L)
          .select("id_a", "id_b").localCheckpoint()
      }
      stage("dedup", "connectedComponents")(Dedup.connectedComponents(pairs).localCheckpoint())
    }
  }

  def finalChecks(): Seq[(String, Boolean)] = Nil

  /** Mean Jaccard agreement of the kept ids with the expected ones. */
  def quality: Double =
    if (agreement.isEmpty) 0.0 else agreement.sum / agreement.length

  def detail(reqs: Seq[Req]): ListMap[String, Any] = ListMap(
    "curate_ms" -> Stats.summary(reqs.map(_.parts("curate"))),
    "docs_per_s" -> reqs.map(_.items).sum / (reqs.map(_.ms).sum / 1000))

  def perLayer(t: Tracer, p: Probe): ListMap[String, Double] = {
    def med(name: String) = if (stageMs(name).isEmpty) 0.0 else Stats.median(stageMs(name))
    ListMap(
      "text.gate_ms" -> med("gate"),
      "dedup.exact_ms" -> med("dedupExact"),
      "dedup.pairs_ms" -> med("ngramJaccardPairs"),
      "dedup.cc_ms" -> med("connectedComponents"))
  }
}
