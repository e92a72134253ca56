package graft

/** Developer profiling main: times one named query end-to-end through
  * the noop sink and prints every stage over a second (id, task
  * count, wall time) — the quickest way to spot a stage that lost
  * its parallelism or picked a bad join. Not part of the driver
  * contract.
  *
  * usage: runMain graft.Dbg <sfDir> <queryName> [runs]
  */
object Dbg {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 1
    val minStage = sys.env.getOrElse("SPARK_GRAFT_STAGE_MIN", "1.0").toDouble
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    printStagesOver(spark, minStage)
    val q = SparkEntry.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    for (r <- 1 to runs) {
      val t0 = System.nanoTime()
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[dbg] $name run=$r time=${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }

  /** Prints every completed stage slower than `minStage` seconds (id,
    * task count, wall time, call site) — the one stage listener the
    * profiling mains share. */
  def printStagesOver(spark: org.apache.spark.sql.SparkSession, minStage: Double): Unit =
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // either Option can be None (stage failed before submission /
        // resubmitted) — a get would throw inside the listener and
        // silently drop the profile row
        for (sub <- si.submissionTime; end <- si.completionTime) {
          val dur = (end - sub) / 1000.0
          if (dur > minStage)
            println(f"[stage] id=${si.stageId} tasks=${si.numTasks} time=$dur%.2fs " +
              si.name.takeWhile(_ != '\n').take(80))
        }
      }
    })
}
