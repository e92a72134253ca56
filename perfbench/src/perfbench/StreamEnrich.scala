package perfbench

import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Tables
import graft.operators.Events
import graft.streaming.EnrichStream

/** A paced event stream through the reference's Flink job: the events
  * are spooled into time-ordered chunk files (row order inside a chunk
  * permuted by the seed). One generator thread drops one chunk per
  * `Interval` into the watched directory (open loop); three concurrent
  * queries consume one file per trigger:
  *  - `enrich`: `Events.enrich` -> `EnrichStream.multiSink` into two
  *    parquet sinks standing in for Kafka and MongoDB;
  *  - `ltv`: `EnrichStream.ltvStateful`, keyed running LTV;
  *  - `hourly`: `EnrichStream.hourlyMetrics`, watermarked hourly sums.
  * A drain phase over a backlog of `Backlog` chunks, dropped at once,
  * follows. */
object StreamEnrich extends Workload {
  val Interval = 2.5
  val Backlog = 3
  /** The events are cut into this many chunks of equal event time
    * (~250 rows of the sf0.01 events, 18 hours each); a run consumes
    * the first ones. */
  val Chunks = 40
  val Pipelines = Seq("enrich", "ltv", "hourly")

  private var live = 0
  /** Events before this instant (micros) are the ones the run consumes. */
  private var cutoffUs = 0L
  private var chunkRows = IndexedSeq.empty[Long]
  private def staging(ctx: Ctx) = s"${ctx.work}/spool"
  private def watched(ctx: Ctx) = s"${ctx.work}/in"
  private def chunkFile(ctx: Ctx, i: Int) = Paths.get(staging(ctx), f"chunk$i%05d.parquet")

  /** Progress events of every batch, by query run id. */
  private val progress = mutable.HashMap.empty[java.util.UUID, mutable.ArrayBuffer[QueryProgressEvent]]
  private val queries = mutable.LinkedHashMap.empty[String, StreamingQuery]

  def prepare(ctx: Ctx): Unit = spool(ctx, math.max(2, math.round(ctx.seconds / Interval).toInt))

  /** Spools the chunks a run with `liveChunks` paced chunks consumes. */
  private def spool(ctx: Ctx, liveChunks: Int): Unit = {
    val spark = ctx.spark
    live = liveChunks
    val chunks = live + Backlog
    require(chunks <= Chunks, s"$chunks chunks needed, $Chunks spooled")
    val ev = Tables(spark, ctx.data, "events")
    val us = unix_micros(col("ts"))
    val mm = ev.agg(min(us), max(us)).collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1) + 1)
    val width = (hi - lo + Chunks - 1) / Chunks
    cutoffUs = lo + chunks * width
    val tmp = s"${ctx.work}/spool_tmp"
    ev.filter(us < cutoffUs)
      .select(col("event_id"), (us * 1000L).as("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), ((us - lo) / width).cast("int").as("chunk"))
      .repartition(chunks, col("chunk"))
      .sortWithinPartitions(col("chunk"), xxhash64(col("event_id"), lit(ctx.seed)))
      .write.partitionBy("chunk").parquet(tmp)
    JFiles.createDirectories(Paths.get(staging(ctx)))
    JFiles.createDirectories(Paths.get(watched(ctx)))
    chunkRows = (0 until chunks).map { i =>
      val files = new java.io.File(s"$tmp/chunk=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"chunk $i spooled into ${files.length} files")
      JFiles.move(files.head.toPath, chunkFile(ctx, i))
      spark.read.parquet(chunkFile(ctx, i).toString).count()
    }
    FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  /** Makes chunk `i` visible to the file sources, stamped so their
    * modification-time order is the chunk order. */
  private def drop(ctx: Ctx, i: Int, stampMs: Long): Unit = {
    val src = chunkFile(ctx, i)
    JFiles.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(stampMs))
    JFiles.move(src, Paths.get(watched(ctx), src.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def sinkDir(ctx: Ctx, n: String) = s"${ctx.work}/sink/$n"
  private def ckpt(ctx: Ctx, n: String) = s"${ctx.work}/ckpt/$n"

  private def start(ctx: Ctx, spark: SparkSession): Unit = {
    def src() = EnrichStream.replaySource(spark, watched(ctx), 1)
    def file(df: DataFrame, n: String) = df.writeStream.format("parquet")
      .option("checkpointLocation", ckpt(ctx, n)).option("path", sinkDir(ctx, n))
      .outputMode("append").start()
    val starts: Seq[(String, () => StreamingQuery)] = Seq(
      "enrich" -> (() => EnrichStream.multiSink(Events.enrich(src()), ckpt(ctx, "enrich"),
        sinkDir(ctx, "kafka"), sinkDir(ctx, "mongo"))),
      "ltv" -> (() => file(EnrichStream.ltvStateful(EnrichStream.typed(src())).toDF(), "ltv")),
      "hourly" -> (() => file(EnrichStream.hourlyMetrics(src()), "hourly")))
    starts.foreach { case (n, f) =>
      queries(n) = ctx.trace.span(s"streaming.$n") {
        val q = f()
        ctx.trace.adopt(q.runId.toString)
        q
      }
    }
  }

  private def events(n: String): IndexedSeq[QueryProgressEvent] = progress.synchronized {
    progress.getOrElse(queries(n).runId, mutable.ArrayBuffer.empty).toIndexedSeq
  }

  /** Commit time (epoch ms) of each non-empty batch of pipeline `n`. */
  private def commits(n: String): IndexedSeq[Long] =
    events(n).filter(_.progress.numInputRows > 0).sortBy(_.progress.batchId)
      .map(e => java.time.Instant.parse(e.progress.timestamp).toEpochMilli +
        e.progress.durationMs.getOrDefault("triggerExecution", 0L).longValue)

  private def committed: Int = Pipelines.map(commits(_).size).min

  private def awaitCommitted(ctx: Ctx, n: Int): Unit =
    while (committed < n && !ctx.pastDeadline && queries.values.forall(_.isActive))
      Thread.sleep(20)

  /** Runs the paced phase and the drain; returns the stream's figures. */
  private def measure(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized {
        progress.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) += e
      }
    }
    spark.streams.addListener(listener)
    val wallMs = () => System.currentTimeMillis
    start(ctx, spark)
    val startNs = System.nanoTime
    val startMs = wallMs()
    // open-loop generator: chunk i is due at start + i * Interval
    val dueNs = (0 until live).map(i => startNs + (i * Interval * 1e9).toLong)
    val late = mutable.ArrayBuffer.empty[Double]
    val gen = new Thread(() => {
      (0 until live).foreach { i =>
        val wait = dueNs(i) - System.nanoTime
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        late += (System.nanoTime - dueNs(i)) / 1e9
        drop(ctx, i, wallMs())
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    awaitCommitted(ctx, live)
    // drain: the backlog lands at once, stamped in chunk order
    val d0 = wallMs()
    (live until live + Backlog).foreach(i => drop(ctx, i, d0 + (i - live)))
    awaitCommitted(ctx, live + Backlog)
    val lastCommit = Pipelines.flatMap(commits(_).drop(live).lastOption).maxOption
    queries.values.foreach { q => q.exception.foreach(e => throw e); q.stop() }
    spark.streams.removeListener(listener)

    val dueMs = dueNs.map(d => startMs + (d - startNs) / 1000000)
    val emits = Pipelines.map(n => n -> commits(n).take(live).zip(dueMs)
      .map { case (c, d) => (c - d) / 1000.0 }).toMap
    val backlogEnd = live + Backlog - committed
    if (backlogEnd > 0) ctx.failed += backlogEnd
    // the first chunk's emit also pays query start-up: it is reported apart
    val warm = Pipelines.flatMap(n => emits(n).drop(1))
    Map("first_emit_s" -> Pipelines.map(n => emits(n).headOption.getOrElse(Double.NaN)).max,
      "emit_p50_s" -> Stats.median(warm), "emit_p90_s" -> Stats.quantile(warm, 0.9),
      "emit_samples" -> warm.size.toDouble,
      "drain_rows_per_s" ->
        lastCommit.map(c => chunkRows.drop(live).sum / ((c - d0) / 1000.0)).getOrElse(0.0),
      "gen_late_s" -> late.maxOption.getOrElse(0.0),
      "backlog_end" -> backlogEnd.toDouble)
  }

  def run(ctx: Ctx): Unit = {
    val m = measure(ctx)
    ctx.e2e("cold_s") = m("first_emit_s")
    ctx.e2e("warm_s") = m("emit_p50_s")
    ctx.detail ++= m
    ctx.detail ++= Seq("chunks" -> chunkRows.size, "chunk_rows" -> chunkRows)
    if (ctx.trace.on) streamingLayer(ctx, m)
  }

  /** Paced chunks of the short stream a traced `query_mix` run drives
    * over the same events, for the streaming layer's figures. */
  val ProbeLive = 4

  /** The streaming layer's figures and output checks from a short
    * stream, run inside another workload's traced run. */
  def probeFrom(ctx: Ctx): Unit = {
    spool(ctx, ProbeLive)
    streamingLayer(ctx, measure(ctx))
    verify(ctx)
  }

  /** stream.<pipeline>.*: trigger walls and progress breakdown of the
    * batches that consumed a chunk; state size at its largest. */
  private def streamingLayer(ctx: Ctx, m: Map[String, Double]): Unit = {
    Seq("emit_p90_s", "drain_rows_per_s", "gen_late_s", "backlog_end")
      .foreach(k => ctx.layer(s"stream.$k") = m(k))
    Pipelines.foreach(pipelineLayer(ctx, _))
  }

  private def pipelineLayer(ctx: Ctx, n: String): Unit = {
    val ps = events(n).map(_.progress).filter(_.numInputRows > 0)
    def dur(k: String) = ps.map(p => p.durationMs.getOrDefault(k, 0L).longValue / 1000.0)
    val trig = dur("triggerExecution")
    val st = ps.flatMap(_.stateOperators)
    ctx.layer(s"stream.$n.trigger_p50_s") = Stats.median(trig)
    ctx.layer(s"stream.$n.trigger_p90_s") = Stats.quantile(trig, 0.9)
    ctx.layer(s"stream.$n.add_batch_s") = Stats.median(dur("addBatch"))
    ctx.layer(s"stream.$n.plan_s") = Stats.median(dur("queryPlanning"))
    ctx.layer(s"stream.$n.wal_commit_s") = Stats.median(dur("walCommit"))
    ctx.layer(s"stream.$n.state_rows") = st.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0)
    ctx.layer(s"stream.$n.state_bytes") = st.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    ctx.layer(s"stream.$n.state_commit_s") =
      Stats.median(st.map(_.commitTimeMs / 1000.0))
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val events = Tables(spark, ctx.data, "events").filter(unix_micros(col("ts")) < cutoffUs)
    val batch = Events.enrich(events)
    Seq("kafka", "mongo").foreach { s =>
      val got = spark.read.parquet(sinkDir(ctx, s)).drop("batch_id")
        .select(batch.columns.map(col): _*)
      val missing = batch.exceptAll(got).count()
      val extra = got.exceptAll(batch).count()
      ctx.check(s"sink.$s.equals_batch_enrich", missing == 0 && extra == 0,
        s"missing=$missing extra=$extra")
    }
    // last running LTV per user vs a batch sum of purchase minus return cents
    val ret = col("value") < 0 || col("event_type").like("%return%") ||
      get_json_object(col("props"), "$.is_return") === "true"
    val expect = events.filter(col("user_id").isNotNull &&
        (col("event_type").like("%purchase%") || ret))
      .groupBy("user_id").agg(sum(when(ret, -floor(abs(col("value")) * 100.0 + 0.5))
        .otherwise(floor(col("value") * 100.0 + 0.5))).cast("long").as("cents"))
    val last = spark.read.parquet(sinkDir(ctx, "ltv"))
      .join(events.select("event_id", "ts"), "event_id")
      .withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("r") === 1)
      .select(col("user_id"), floor(col("ltv") * 100.0 + 0.5).cast("long").as("got"))
    val bad = expect.join(last, Seq("user_id"), "full_outer")
      .filter(col("cents").isNull || col("got").isNull || col("cents") =!= col("got")).count()
    ctx.check("ltv.last_equals_batch_sum", bad == 0, s"users_differing=$bad")
    // every finalized hourly window equals the batch aggregate over it
    val hourly = spark.read.parquet(sinkDir(ctx, "hourly"))
    val hb = events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("bn"), sum("value").as("bv"))
    val emitted = hourly.count()
    val off = hourly.join(hb, Seq("window", "event_type"), "left")
      .filter(col("bn").isNull || col("bn") =!= col("n_events") ||
        abs(col("bv") - col("total_value")) > lit(1e-6) * abs(col("bv")) + lit(1e-6)).count()
    ctx.check("hourly.windows_equal_batch", emitted > 0 && off == 0,
      s"emitted=$emitted differing=$off")
  }

  def probe(ctx: Ctx): Unit = ()
}
