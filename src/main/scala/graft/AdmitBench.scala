package graft

import org.apache.spark.sql.functions._

/** Scale harness for the online corpus-admission face (SURVEY §4.2):
  * builds the persisted near-dup index from 90% of a corpus (the
  * q138 split), streams the remaining 10% through
  * [[graft.streaming.AdmitStream]] in `chunks` file triggers, and
  * prints one JSON line — index-build seconds, streamed docs, wall
  * seconds, docs/s, triggers, and the admission tally recomputed
  * from the decision log — so the "per-trigger cost is one pruned
  * probe, state is the at-rest index" claim is a MEASURED number.
  *
  * Unlike the events pipelines there is no watermark, so replay
  * order is free; `maxFilesPerTrigger=1` fixes trigger composition.
  *
  * Usage: runMain graft.AdmitBench [docsDir] [chunks]
  *   docsDir default /tmp/stress_x10 (50k docs, GenData family).
  */
object AdmitBench {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.local(cpus)
    // per-stage attribution for scale runs, same env gate as
    // BuildCorpus: SPARK_GRAFT_STAGE_MIN=<secs> prints every stage
    // over the floor (streaming foreachBatch stages included)
    sys.env.get("SPARK_GRAFT_STAGE_MIN").map(_.toDouble)
      .foreach(Dbg.printStagesOver(spark, _))
    // recentProgress retains 100 entries by default — a silent cap
    // that would undercount rows/batches past 100 triggers
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (chunks + 8).toString)
    val root = java.nio.file.Files.createTempDirectory("graft_admit").toString
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(10)) === 7

    val basePath = s"$root/base"
    val t0 = System.nanoTime()
    sources.DupIndex.writeFrom(spark, docs.filter(!isNew), basePath)
    val buildSecs = (System.nanoTime() - t0) / 1e9
    val baseDocs = docs.filter(!isNew).count()

    val spool = s"$root/spool"
    docs.filter(isNew).repartition(chunks).write.parquet(spool)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(spool)
    // SPARK_GRAFT_ADMIT_EVERY: gate-cadence override (0 disables the
    // admit-sensitivity gate) so A/Bs can isolate gate cost from
    // probe/write cost
    val admitEvery = sys.env.get("SPARK_GRAFT_ADMIT_EVERY").map(_.toInt)
      .getOrElse(streaming.AdmitStream.AdmitEvery)
    val q = streaming.AdmitStream.admitSink(stream, basePath,
      s"$root/delta", s"$root/verdicts", s"$root/log", s"$root/ckpt",
      admitEvery = admitEvery)
    val t1 = System.nanoTime()
    q.processAllAvailable()
    val secs = (System.nanoTime() - t1) / 1e9
    val progs = q.recentProgress
    val rows = progs.map(_.numInputRows).sum
    val batches = progs.count(_.numInputRows > 0)
    q.stop()

    val adm = spark.read.parquet(s"$root/log")
      .agg(sum("n_docs").as("d"), sum("n_novel").as("n"),
        max("rebuild").as("r")).collect()(0)
    // per-trigger wall seconds, in trigger order: the gated-vs-ungated
    // contrast WITHIN one run is host-noise-controlled (this host
    // swings whole runs ±2-3x), where run-vs-run totals are not
    val trigSecs = progs.filter(_.numInputRows > 0)
      .map(p => f"${p.durationMs.get("triggerExecution").toDouble / 1000.0}%.1f")
      .mkString("[", ",", "]")
    println(
      f"""{"pipeline":"admit","base_docs":$baseDocs,"build_secs":$buildSecs%.1f,""" +
        f""""rows":$rows,"secs":$secs%.1f,"rows_per_sec":${rows / math.max(secs, 1e-9)}%.0f,""" +
        s""""batches":$batches,"trigger_secs":$trigSecs,"n_novel":${adm.getLong(1)},""" +
        s""""n_dup":${adm.getLong(0) - adm.getLong(1)},"rebuild_tripped":${adm.getBoolean(2)}}""")
    spark.stop()
  }
}
