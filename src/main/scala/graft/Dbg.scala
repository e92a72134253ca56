package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Developer profiling main: times named queries end-to-end through
  * the noop sink and prints every stage over a second (id, task
  * count, wall time) — the quickest way to spot a stage that lost
  * its parallelism or picked a bad join. Each `[dbg]` line also
  * carries that run's Janino compiles and compile time, so a warm
  * run that still compiles (a codegen cache too small for the working
  * set) shows before scheduling gets the blame. Not part of the
  * Bench/Verify contract.
  *
  * usage: runMain graft.Dbg <sfDir> <queries> [runs]
  *   queries: one name, a comma list, or `all` (every SparkEntry
  *   query); runs: passes over the whole list (default 1)
  */
object Dbg {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val qs =
      if (args(1) == "all") SparkEntry.all
      else args(1).split(',').toSeq.map(n =>
        SparkEntry.all.find(_.name == n).getOrElse(sys.error(s"unknown query $n")))
    val runs = if (args.length > 2) args(2).toInt else 1
    val minStage = sys.env.getOrElse("SPARK_GRAFT_STAGE_MIN", "1.0").toDouble
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    printStagesOver(spark, minStage)
    // JVM-wide (wall ns, Janino compiles, compile ns)
    def now = (System.nanoTime(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
    def report(label: String, from: (Long, Long, Long)): Unit = {
      val (t, c, ns) = now
      println(f"[dbg] $label time=${(t - from._1) / 1e9}%.1fs compiles=${c - from._2} " +
        f"compile_ms=${(ns - from._3) / 1e6}%.0f")
    }
    for (r <- 1 to runs) {
      val pass = now
      for (q <- qs) {
        val m = now
        q.fn(spark, dir).write.format("noop").mode("overwrite").save()
        report(s"${q.name} run=$r", m)
      }
      report(s"pass run=$r queries=${qs.size}", pass)
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
