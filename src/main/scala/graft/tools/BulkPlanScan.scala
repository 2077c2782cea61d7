package graft.tools

/** Dev utility: build every declared query and print one summary line
  * per query — counts of scans/exchanges/broadcasts/windows in the
  * spark plan, plus duplicate-scan paths — to rank plan-shape red
  * flags across the whole surface without executing the queries.
  * `sbt "runMain graft.tools.BulkPlanScan [sfDir]"`. */
object BulkPlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(defaultCpus = 32, Nil)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(graft.SparkEntry.queries)(s =>
      graft.SparkEntry.queries.filter(q => s(q._1)))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val buildS = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.sparkPlan.toString
        def c(p: String) = p.r.findAllIn(plan).size
        val scans = "(?m)^.*FileScan parquet".r.findAllIn(plan).size +
          c("Scan parquet")
        // duplicate scanned paths: same file listed in >1 scan node
        val paths = "file:[^,\\]\\s]+".r.findAllIn(plan)
          .map(_.replaceAll("[,\\]].*$", "")).toSeq
        val dupPaths = paths.groupBy(identity).count(_._2.size > 1)
        println(f"[plan] $name%-28s build=$buildS%6.2f ex=${c("Exchange ")}%2d bc=${c("BroadcastExchange")}%2d scan=$scans%2d dupPath=$dupPaths%2d win=${c("Window")}%2d smj=${c("SortMergeJoin")}%2d lines=${plan.linesIterator.size}%4d")
      } catch {
        case e: Throwable =>
          println(s"[plan] $name FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
