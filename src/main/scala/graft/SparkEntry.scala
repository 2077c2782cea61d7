package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.VectorSearch
import graft.queries.{Catalog, Fixtures}

/** Driver contract: the session setup every driver main shares, the
  * smoke-check [[entry]], and the declared-query catalog as the two
  * views the drivers read — [[queries]] (name → Spark plan) and
  * [[oracleSql]] (name → DuckDB SQL with IDENTICAL column names and
  * deterministic ordering). Each query is declared once, next to its
  * oracle, in its family's file under `graft/queries/`
  * ([[graft.queries.Catalog]]). Float policy: distances are computed in
  * float64 with strictly left-to-right accumulation on both sides
  * (Spark `aggregate` fold ≡ left-associative SQL `+` chain), so hashes
  * match bit-for-bit.
  */
object SparkEntry {

  /** One-time session setup shared by the Bench and Verify mains:
    * library optimizer rules are switched on HERE, not inside query
    * thunks, so every query is planned under identical session state
    * regardless of execution order or `SPARK_GRAFT_BENCH_ONLY` subsets
    * (a thunk that mutated `experimental.extraOptimizations` made later
    * queries' plans depend on which queries ran before them).
    *
    * It also lowers AQE's partition floor to [[MinPartitionSize]].
    * With `coalescePartitions.parallelismFirst` on (Spark's default),
    * AQE merges post-shuffle partitions up to that floor, and Spark's
    * 1 MB default put every 1–3 MB shingle shuffle of the curation
    * chain into one task. One traced perfbench `corpus_curate` run
    * each (seed 1, 4 vCPU): 53 tasks per request at 64 KB against 23
    * at the 1 MB default, executor-busy fraction 0.31 against 0.16,
    * request p50 1.8 s against 3.2 s. 16 KB measured the same as
    * 64 KB, and 256 KB fell part of the way back (41 tasks, 2.0 s);
    * the KB-sized store shuffles of `cdc_mutate` keep their task
    * counts at all three. Partitioning changes task counts only,
    * never a result. */
  def setupSession(s: SparkSession): Unit = {
    org.apache.spark.sql.graft.TopKWindowRewrite.enable(s)
    s.conf.set(MinPartitionSizeKey, MinPartitionSize)
  }

  final val MinPartitionSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  /** The post-shuffle partition floor [[setupSession]] sets. */
  final val MinPartitionSize = "64KB"

  /** The local session the Bench, Verify and dev-tool mains run
    * queries under: `local[cpus]` with as many shuffle partitions, UTC
    * session time, no UI, WARN logging, then [[setupSession]]. `cpus`
    * is `SPARK_GRAFT_CPUS`, else the caller's `defaultCpus`; `conf`
    * entries are set last, before the session starts. */
  def localSession(defaultCpus: Int, conf: Seq[(String, String)]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    setupSession(spark)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val corpus = Fixtures.emb(spark, dir)
    val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    VectorSearch.knnExactDf(corpus, query, k = 10)
  }

  /** Every declared query's Spark plan, by name. Builds no oracle text. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(d => d.name -> d.run).toMap

  /** Every declared query's DuckDB oracle, by name, runnable on the same
    * parquet tables. */
  def oracleSql: Map[String, String] =
    Catalog.all.map(d => d.name -> d.oracle).toMap
}
