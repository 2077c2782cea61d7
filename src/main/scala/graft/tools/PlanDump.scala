package graft.tools

/** Dev utility: print the formatted physical plan (and optionally the
  * AQE final plan after execution) of a declared query —
  * `sbt "runMain graft.tools.PlanDump <query> [sfDir]"`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.SparkEntry.localSession(defaultCpus = 8, Nil)
    val repeats = if (args.length > 2) args(2).toInt else 1
    if (repeats == 1) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      println("=== before execution ===")
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(f"=== executed in ${(System.nanoTime() - t0) / 1e9}%.2f s; final (AQE) plan ===")
      println(df.queryExecution.executedPlan.toString.take(8000))
    } else {
      // repeat mode: dump each run's FULL executed plan to a numbered
      // file so run-to-run fingerprint divergence can be diffed
      (1 to repeats).foreach { i =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val p = df.queryExecution.executedPlan.toString
        val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), s"plandump_${name}_$i.txt")
        java.nio.file.Files.writeString(out, p)
        println(f"run $i: $secs%.2f s fp=${graft.Bench.planFingerprint(p)} -> $out")
      }
    }
    spark.stop()
  }
}
