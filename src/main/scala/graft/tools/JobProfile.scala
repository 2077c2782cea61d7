package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev utility: run a declared query and print every Spark job it
  * fires — start offset, duration, task count and call site — so a
  * multi-action query's wall time decomposes into its component jobs.
  * `sbt "runMain graft.tools.JobProfile <query> [sfDir] [runs]"`. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = graft.SparkEntry.localSession(defaultCpus = 32, Nil)

    final case class J(id: Int, start: Long, site: String, nTasks: Int,
        var end: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name.linesIterator.next().take(70)))
          .getOrElse("?")
        jobs.put(e.jobId,
          J(e.jobId, e.time, site, e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })

    (1 to runs).foreach { r =>
      jobs.clear()
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      println(f"\n=== $name run $r: $secs%.2f s, ${js.size} jobs ===")
      var covered = 0L
      js.foreach { j =>
        val dur = if (j.end > 0) j.end - j.start else -1L
        covered += math.max(dur, 0L)
        println(f"  +${j.start - wall0}%6dms ${dur}%6dms ${j.nTasks}%4dt  ${j.site}")
      }
      println(f"  job-covered ${covered / 1000.0}%.2f s of $secs%.2f s wall")
    }
    spark.stop()
  }
}
