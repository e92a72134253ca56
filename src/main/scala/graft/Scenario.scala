package graft

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.sources.{AnnIndex, DupIndex, LexIndex, Maintenance}
import graft.streaming.{AdmitStream, EnrichStream, IngestStream, LexIngestStream, RetrieveStream}

/** One harness for the streaming and serving scenarios (SURVEY §4):
  * each scenario sets up on a corpus dir, runs what it measures and
  * prints one JSON record per line. The shared steps live here once:
  * the session, a temp root, the chunk spool, the stream drain,
  * best-of-N timing and the JSON emitter.
  *
  * Usage: runMain graft.Scenario <name> [args…]
  *   admit  [docsDir] [chunks]          docsDir default /tmp/stress_x10, chunks 8
  *   lex    [docsDir] [chunks] [qtrig]  same defaults, qtrig 8
  *   stream [eventsDir] [chunks]        eventsDir default /tmp/estress_x10, chunks 8
  *   drift  [embDir] [chunkSize] [nprobe]  /tmp/stress_x100, 5000, 16
  *   scope  <mediaDir> [scopes] [runs] [family]  4, 2, phash (or wav)
  *   fit    <dir> [runs]                runs 1
  *
  * The session runs on `$SPARK_GRAFT_CPUS` threads (default: every
  * core). `SPARK_GRAFT_STAGE_MIN=<secs>` prints every stage over that
  * floor, streaming foreachBatch stages included (the BuildCorpus
  * gate). `SPARK_GRAFT_ADMIT_EVERY` overrides the admit scenario's
  * gate cadence (0 disables the admit-sensitivity gate), so A/Bs can
  * isolate gate cost from probe and write cost.
  */
object Scenario {

  type Record = ListMap[String, Any]

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: graft.Scenario <${names.mkString("|")}> [args…]")
    val spark = session()
    try run(spark, args.head, args.tail.toSeq).foreach(println)
    finally spark.stop()
  }

  /** Runs scenario `name` under a fresh temp root (deleted afterwards)
    * and returns its JSON lines. */
  def run(spark: SparkSession, name: String, args: Seq[String]): Seq[String] = {
    val body = scenarios.getOrElse(name,
      sys.error(s"unknown scenario '$name' (${names.mkString("|")})"))
    val root = Files.createTempDirectory(s"graft_$name")
    try body(spark, root.toString, args).map(json.writeValueAsString)
    finally FileUtils.deleteDirectory(root.toFile)
  }

  private val scenarios: Map[String, (SparkSession, String, Seq[String]) => Seq[Record]] =
    Map("admit" -> admit, "lex" -> lex, "stream" -> stream, "drift" -> drift,
      "scope" -> scope, "fit" -> fit)
  private def names = scenarios.keys.toSeq.sorted

  // ---- shared steps ----

  private def session(): SparkSession = {
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    sys.env.get("SPARK_GRAFT_STAGE_MIN").map(_.toDouble)
      .foreach(Dbg.printStagesOver(spark, _))
    spark
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def timed[A](thunk: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = thunk
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** One untimed warm-up (scan cache, codegen), then the minimum wall
    * of `runs` timed runs, with the last run's result. */
  private def best[A](runs: Int)(thunk: => A): (Double, A) = {
    require(runs >= 1, s"runs must be >= 1, got $runs")
    var last = thunk
    var secs = Double.MaxValue
    (0 until runs).foreach { _ =>
      val (s, a) = timed(thunk)
      secs = math.min(secs, s)
      last = a
    }
    (secs, last)
  }

  /** Writes `frame` into `dir` as one parquet file per value of its
    * `_chunk` column (0 until `chunks`), one file after another, so
    * modification times (the file stream source's admission order)
    * follow the chunk. The frame is checkpointed first: it is scanned
    * once per chunk, and a range partitioning's sampled boundaries
    * must not move between scans. `_chunk` is a column, not the
    * partition id, because a union of single-partition frames plans
    * as ONE partition. */
  def spool(frame: DataFrame, chunks: Int, dir: String): String = {
    val fixed = frame.localCheckpoint(false)
    val tmp = s"$dir/_tmp"
    for (i <- 0 until chunks) {
      fixed.filter(col("_chunk") === i).drop("_chunk").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(dir, f"chunk$i%05d.parquet"))
    }
    FileUtils.deleteDirectory(new java.io.File(tmp))
    fixed.unpersist()
    dir
  }

  /** What one streaming query did between start and drained. */
  final case class Drain(secs: Double, rows: Long, batches: Int,
      triggerSecs: Seq[Double], maxStateRows: Long) {
    def rowsPerSec: Double = rows / math.max(secs, 1e-9)
  }

  /** Progress events per query id. No retention cap applies, unlike
    * `StreamingQuery.recentProgress` (the last
    * `spark.sql.streaming.numRecentProgressUpdates`, default 100). */
  private final class ProgressLog extends StreamingQueryListener {
    private val progress = scala.collection.mutable.Map.empty[UUID, Vector[StreamingQueryProgress]]
    private val ended = scala.collection.mutable.Set.empty[UUID]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        progress(e.progress.id) = progress.getOrElse(e.progress.id, Vector.empty) :+ e.progress
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized { ended += e.id; notifyAll() }
    /** The query's progress once its termination event arrived: the
      * bus delivers a query's events in order, so none is still in
      * flight. Without that event the count could be short, so it
      * fails instead. */
    def await(id: UUID): Seq[StreamingQueryProgress] = synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      while (!ended(id) && System.currentTimeMillis() < deadline) wait(100L)
      if (!ended(id)) throw new IllegalStateException(s"query $id: no termination event")
      progress.getOrElse(id, Vector.empty)
    }
  }

  /** Starts a query, runs it until all available input is processed,
    * stops it and reports wall seconds, input rows, non-empty
    * triggers with their seconds, and the max state rows any trigger
    * reported. The listener goes on before the start so no trigger
    * is missed. */
  def drain(spark: SparkSession)(start: => StreamingQuery): Drain = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    try {
      val q = start
      val (secs, _) = try timed(q.processAllAvailable()) finally q.stop()
      val progs = log.await(q.id)
      val busy = progs.filter(_.numInputRows > 0)
      Drain(secs, progs.map(_.numInputRows).sum, busy.length,
        busy.map(_.durationMs.get("triggerExecution").toDouble / 1000.0),
        progs.flatMap(_.stateOperators.map(_.numRowsTotal)).foldLeft(0L)(math.max))
    } finally spark.streams.removeListener(log)
  }

  /** Spools the events table into `dir` as `chunks` event-time-ordered
    * files in [[EnrichStream.rawSchema]]'s shape (ts as nanos long).
    * Time order matters: the corpus draws event times uniformly, so
    * replaying raw files would push the watermark to near-max in the
    * first batch and drop everything later as late. */
  def spoolEvents(spark: SparkSession, evDir: String, chunks: Int, dir: String): String = {
    val ev = Tables(spark, evDir, "events")
      .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    spool(ev.repartitionByRange(chunks, col("ts")).sortWithinPartitions("ts")
      .withColumn("_chunk", spark_partition_id()), chunks, dir)
  }

  /** Event-time width of one replay chunk in days (ceil), for the
    * rolling-active state bound. */
  def chunkSpanDays(spark: SparkSession, spool: String, chunks: Int): Long = {
    val mm = spark.read.schema(EnrichStream.rawSchema).parquet(spool)
      .agg(min("ts"), max("ts")).collect()(0)
    val spanDays = (mm.getLong(1) - mm.getLong(0)) / 1e9 / 86400.0
    math.ceil(spanDays / chunks).toLong
  }

  private def fileStream(spark: SparkSession, schema: String, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** The q138 split: doc_id % 10 == 7 is streamed, the rest is base. */
  private val isNew = pmod(col("doc_id"), lit(10)) === 7

  // ---- scenarios ----

  /** Online corpus admission: the persisted near-dup index built from
    * 90% of a corpus, the other 10% streamed through
    * [[AdmitStream]] in `chunks` triggers, the admission tally
    * recomputed from the decision log. No watermark, so replay order
    * is free. Per-trigger seconds show the gated against ungated
    * contrast within one run, where run-to-run totals swing with the
    * host. */
  private def admit(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val basePath = s"$root/base"
    val (buildSecs, _) = timed(DupIndex.writeFrom(spark, docs.filter(!isNew), basePath))
    val baseDocs = docs.filter(!isNew).count()
    val spooled = spool(docs.filter(isNew).repartition(chunks)
      .withColumn("_chunk", spark_partition_id()), chunks, s"$root/spool")
    val admitEvery = sys.env.get("SPARK_GRAFT_ADMIT_EVERY").map(_.toInt)
      .getOrElse(AdmitStream.AdmitEvery)
    val d = drain(spark)(AdmitStream.admitSink(
      fileStream(spark, "doc_id BIGINT, text STRING", spooled), basePath,
      s"$root/delta", s"$root/verdicts", s"$root/log", s"$root/ckpt",
      admitEvery = admitEvery))
    val adm = spark.read.parquet(s"$root/log")
      .agg(sum("n_docs"), sum("n_novel"), max("rebuild")).collect()(0)
    Seq(ListMap("pipeline" -> "admit", "base_docs" -> baseDocs, "build_secs" -> buildSecs,
      "rows" -> d.rows, "secs" -> d.secs, "rows_per_sec" -> d.rowsPerSec,
      "batches" -> d.batches, "trigger_secs" -> d.triggerSecs,
      "n_novel" -> adm.getLong(1), "n_dup" -> (adm.getLong(0) - adm.getLong(1)),
      "rebuild_tripped" -> adm.getBoolean(2)))
  }

  /** Queries per retrieve trigger (the serving contract). */
  val QPerTrigger = 20

  /** Both lexical serving faces over a BM25 index of 90% of a corpus:
    * INGEST streams the other 10% through [[LexIngestStream]] in
    * `chunks` triggers (coverage gate, delta append, decision log);
    * RETRIEVE runs `qtrig` triggers of [[QPerTrigger]] queries through
    * [[RetrieveStream]] (lexical probe of the postings plus a dense
    * probe of an [[AnnIndex]], RRF-fused). The claim measured: a
    * trigger costs a pruned probe of at-rest state, so ingest
    * throughput rises with trigger size and retrieve latency is flat
    * in corpus size. */
  private def lex(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val qtrig = args.lift(2).map(_.toInt).getOrElse(8)
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    val basePath = s"$root/lex"
    val (buildSecs, stats) = timed(LexIndex.writeFrom(spark, docs.filter(!isNew), basePath))
    val spooled = spool(docs.filter(isNew).repartition(chunks)
      .withColumn("_chunk", spark_partition_id()), chunks, s"$root/spool")
    val ingest = drain(spark)(LexIngestStream.ingestSink(
      fileStream(spark, "doc_id BIGINT, text STRING", spooled),
      basePath, s"$root/delta", s"$root/quar", s"$root/ilog", stats, s"$root/ickpt"))
    val gate = spark.read.parquet(s"$root/ilog")
      .agg(sum("n_docs_admitted"), max("rebuild")).collect()(0)

    val annPath = s"$root/ann"
    val (annSecs, cents) = timed(AnnIndex.write(spark, dir, annPath))
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val queries = docs.join(emb, "doc_id")
      .filter(col("doc_id") < qtrig.toLong * QPerTrigger)
      .select(col("doc_id").as("query_id"), col("text"), col("embedding"))
    val qspool = spool(queries.repartition(qtrig)
      .withColumn("_chunk", spark_partition_id()), qtrig, s"$root/qspool")
    val retrieve = drain(spark)(RetrieveStream.retrieveSink(
      fileStream(spark, "query_id BIGINT, text STRING, embedding ARRAY<FLOAT>", qspool),
      basePath, stats, annPath, cents, nprobe = 4, s"$root/results", s"$root/rckpt"))
    Seq(ListMap("pipeline" -> "lex", "build_secs" -> buildSecs, "ann_build_secs" -> annSecs,
      "ingest_rows" -> ingest.rows, "ingest_secs" -> ingest.secs,
      "ingest_rows_per_sec" -> ingest.rowsPerSec, "ingest_batches" -> ingest.batches,
      "admitted" -> gate.getLong(0), "rebuild_tripped" -> gate.getBoolean(1),
      "queries" -> retrieve.rows, "retrieve_secs" -> retrieve.secs,
      "retrieve_per_trigger_secs" -> retrieve.secs / math.max(retrieve.batches, 1),
      "retrieve_batches" -> retrieve.batches))
  }

  /** Event-time-ordered replay of an events corpus through the
    * stateful pipelines: one record per pipeline with its max state
    * rows next to that operator's documented state bound, so "state
    * is bounded by X, not history" is a measured number. */
  private def stream(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val evDir = args.lift(0).getOrElse("/tmp/estress_x10")
    val chunks = args.lift(1).map(_.toInt).getOrElse(8)
    val spooled = spoolEvents(spark, evDir, chunks, s"$root/spool")
    val ltvUsers = EnrichStream.typed(Tables(spark, evDir, "events"))
      .filter(e => e.event_type.contains("purchase") ||
        e.event_type.contains("return") || e.is_return)
      .map(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .distinct().count()
    // session_window state holds one row per OPEN session: every
    // session has >= 1 event and only sessions inside the watermark
    // horizon stay open, so state <= events admitted in the last ~2
    // batches (the current chunk and the one the lagging watermark has
    // not closed yet), a rate x horizon bound independent of stream
    // length. Distinct users is NOT the bound: one replay chunk spans
    // days of event time, so each user holds several open sessions at
    // once (measured 119k open sessions for 15k users at x10).
    val openSessions = 2L * (Tables(spark, evDir, "events")
      .filter(col("user_id").isNotNull).count() / chunks + 1L)
    val sessionsDesc = "open sessions <= events in ~2 replay chunks (rate x watermark horizon)"
    def replay() = EnrichStream.replaySource(spark, spooled, 1)
    def measure(name: String, mode: String, bound: Long, desc: String)(
        out: Dataset[_]): Record = {
      val d = drain(spark)(out.writeStream.format("noop").outputMode(mode).start())
      ListMap("pipeline" -> name, "rows" -> d.rows, "secs" -> d.secs,
        "rows_per_sec" -> d.rowsPerSec, "batches" -> d.batches,
        "max_state_rows" -> d.maxStateRows, "state_bound" -> bound, "bound" -> desc)
    }
    Seq(
      measure("ltv_stateful", "append", ltvUsers, "distinct purchase/return users")(
        EnrichStream.ltvStateful(EnrichStream.typed(replay()))),
      measure("sessions", "append", openSessions, sessionsDesc)(
        EnrichStream.sessionizedStream(replay().filter(col("user_id").isNotNull))),
      // 7-day windows / 1-day slide: the open horizon (8) plus the
      // windows one chunk's event-time width spans, plus a watermark
      // lag of one batch (bounded by the same width)
      measure("rolling_active", "update", 8L + 2L * chunkSpanDays(spark, spooled, chunks),
        "open 7d-window horizon + 2x chunk span (batch-lagged watermark)")(
        EnrichStream.rollingActiveStream(replay())),
      // per-closed-session APPEND with collected-struct state: the
      // sessions row bound, the payload bounded by per-session
      // activity under the 30-minute gap
      measure("session_paths", "append", openSessions, sessionsDesc)(
        EnrichStream.sessionPathStream(replay().filter(col("user_id").isNotNull))),
      // COMPLETE-mode republication, structurally capped at
      // #types x 168 heatmap cells however long the stream runs
      measure("season", "complete", 5L * 168L,
        "structural cap: #event_types x 168 dow-hour cells")(
        EnrichStream.seasonStream(replay())))
  }

  /** ANN serving under drift: does the refit gate trip BEFORE recall
    * quietly rots?
    *  1. build the IVF index from a corpus's embeddings (the fitted
    *     geometry, clusterW 0.3);
    *  2. stream a drift sweep through the gated [[IngestStream]], one
    *     chunk per trigger: chunks 0-6 step the cluster mass 0.30 →
    *     0.00 (the gate should hold until the geometry is gone), the
    *     last is a NEW domain (fresh centroid family at full mass, a
    *     new embedding model), the class quarantine-then-refit is for;
    *  3. after the sweep, per chunk, recall@k of the serving nprobe
    *     against the exact probe (nprobe = all cells) for that chunk's
    *     own vectors as queries (queries drift with the corpus), next
    *     to the gate's verdict when the chunk landed;
    *  4. run [[Maintenance.maintainAnn]] (the tripped gate's parked
    *     batches are the refit corpus) and re-measure the most
    *     drifted chunk's recall on the new root.
    * MaintenanceSpec carries the deterministic recall-recovers
    * assertion; this is the scale datapoint.
    *
    * nprobe must track cells per cluster: this family's exact top-10
    * are cluster mates spread over the cluster's ~cells/10 sub-cells,
    * so a 2-cell probe of a 448-cell index reads ~4% of the right
    * cluster and recall floors at ~0.15-0.2 everywhere (measured).
    * 16 is ~1/3 of one cluster's cells at x100. */
  private def drift(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val dir = args.lift(0).getOrElse("/tmp/stress_x100")
    val chunkSize = args.lift(1).map(_.toInt).getOrElse(5000)
    val nprobe = args.lift(2).map(_.toInt).getOrElse(16)
    val k = 10
    val nQueries = 64
    val basePath = s"$root/base"
    val (buildSecs, cents) = timed(
      AnnIndex.writeFrom(spark, Tables(spark, dir, "embeddings"), basePath))
    val baseN = spark.read.parquet(basePath).count()

    val ws = Array((0.30, 1000L), (0.25, 1000L), (0.20, 1000L), (0.15, 1000L),
      (0.10, 1000L), (0.05, 1000L), (0.0, 1000L), (0.45, 5000L))
    def idBase(i: Int) = 10000000L + i.toLong * 1000000L
    val spooled = spool(ws.zipWithIndex.map { case ((w, cs), i) =>
      GenData.vectors(spark, chunkSize, idBase(i), w, cs).withColumn("_chunk", lit(i))
    }.reduce(_ union _), ws.length, s"$root/spool")
    // each chunk's first vectors are its queries
    val chunkQs = ws.zipWithIndex.map { case ((w, cs), i) =>
      (0 until math.min(nQueries, chunkSize)).toArray.map { j =>
        val id = idBase(i) + j
        id -> GenData.embedding(id, w, cs, twins = false)
      }
    }

    // recallEvery = 1: every trigger is measured, so the per-chunk
    // records show exactly when each gate first trips (production
    // samples sparser)
    val (deltaP, quarP, logP) = (s"$root/delta", s"$root/quarantine", s"$root/log")
    val ingest = drain(spark)(IngestStream.ingestSink(
      fileStream(spark, "vec_id BIGINT, embedding ARRAY<FLOAT>", spooled),
      basePath, deltaP, quarP, logP, cents, s"$root/ckpt", recallEvery = 1,
      recallNprobe = nprobe, recallK = k))
    // batch is a PARTITION column, read back as int: cast before getLong
    val log = spark.read.parquet(logP)
      .select(col("batch").cast("long"), col("n_rows"), col("refit"),
        col("recall_ppm"), col("recall_refit")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4)))).toMap
    def recall(base: String, delta: Option[String], cs: Array[Array[Double]],
        qs: Array[(Long, Array[Float])]): Double =
      AnnIndex.recallStats(spark, base, delta, cs, qs, nprobe, k)._3

    // recall after the whole sweep (base + every admitted batch, the
    // steady state a serving tier sees); gate_ppm is what the sampled
    // gate measured the moment the chunk landed
    val rows = ws.indices.map { i =>
      val (nRows, refit, gatePpm, recRefit) = log.getOrElse(i.toLong, (0L, false, -1L, false))
      ListMap("chunk" -> i, "cluster_w" -> ws(i)._1, "cent_seed" -> ws(i)._2,
        "rows" -> nRows, "refit" -> refit, "gate_ppm" -> gatePpm,
        "recall_refit" -> recRefit, "recall" -> recall(basePath, Some(deltaP), cents, chunkQs(i)))
    }
    def firstTrip(sel: ((Long, Boolean, Long, Boolean)) => Boolean): Long =
      ws.indices.map(_.toLong).find(i => log.get(i).exists(sel)).getOrElse(-1L)

    val lastQ = chunkQs.last
    val preRefit = recall(basePath, Some(deltaP), cents, lastQ)
    val (refitSecs, (verdict, newCents)) = timed(Maintenance.maintainAnn(
      spark, basePath, deltaP, quarP, logP, s"$root/rebuilt"))
    val postRefit = newCents.fold(-1.0)(recall(s"$root/rebuilt", None, _, lastQ))
    Seq(ListMap("pipeline" -> "ann_drift", "base_vecs" -> baseN, "cells" -> cents.length,
      "build_secs" -> buildSecs, "chunk_rows" -> chunkSize, "nprobe" -> nprobe, "k" -> k,
      "ingest_secs" -> ingest.secs, "chunks" -> rows,
      "first_mse_trip" -> firstTrip(_._2), "first_recall_trip" -> firstTrip(_._4),
      "maintenance" -> verdict.action, "trips" -> verdict.trips, "refit_secs" -> refitSecs,
      "drifted_recall_pre" -> preRefit, "drifted_recall_post" -> postRefit))
  }

  /** Dedup-domain scoping A/B (SURVEY §15): q155 (phash) or q157
    * (wav) unscoped against scoped into `scopes` CONTIGUOUS doc_id
    * ranges (`floor(doc_id / width)`, the ingestion-window shape). The
    * scoped pair count is at most the unscoped one; cross-scope pairs
    * are the contract's exclusion class.
    *
    * Range windows, NOT pmod: near-dup families are temporally local
    * (GenData twins sit 3 ids apart), so contiguous windows keep them
    * co-scoped. Measured on mm_x300: pmod 10 sharding kept 13 of
    * 75,892 pairs against range windows' ~99.9%. q171 is not offered:
    * its output has one row per image, scoped or not, and its banding
    * join is q155's. */
  private def scope(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val dir = args.headOption.getOrElse(sys.error("scope needs <mediaDir>"))
    val scopes = args.lift(1).map(_.toInt).getOrElse(4)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val family = args.lift(3).getOrElse("phash")
    // window width from the corpus's own id span
    val maxId = Tables(spark, dir, "media").agg(max("doc_id")).head.getLong(0)
    val width = math.max(1L, maxId / scopes + 1L)
    val scopeCol = floor(col("doc_id") / lit(width)).cast("long")
    val (unscoped, scoped) = family match {
      case "wav" => (operators.Multimodal.q157(spark, dir),
        operators.Multimodal.q157(spark, dir, scopeCol))
      case "phash" => (operators.Multimodal.q155(spark, dir),
        operators.Multimodal.q155(spark, dir, scopeCol))
      // a typo must not time phash under the wrong label
      case other => sys.error(s"unknown family '$other' (phash|wav)")
    }
    val (su, nu) = best(runs)(unscoped.count())
    val (ss, ns) = best(runs)(scoped.count())
    Seq(ListMap("bench" -> "scope", "dir" -> dir, "family" -> family, "scopes" -> scopes,
      "runs" -> runs, "unscoped_secs" -> su, "scoped_secs" -> ss,
      "unscoped_pairs" -> nu, "scoped_pairs" -> ns))
  }

  /** Bounded Lloyd fit sample A/B ([[operators.Similarity.FitSampleFloor]],
    * SURVEY §15): the IVF coarse-quantizer fit plus its full assignment
    * pass at the sampled default against `fitFloor` past n (bit-identical
    * to the unsampled fit), with each fit's mean quantization error
    * over the FULL corpus. The quality claim: centroids from the
    * bounded sample quantize the corpus as well as centroids fit on
    * everything (mse_ratio ≈ 1, the refit gate's statistic). */
  private def fit(spark: SparkSession, root: String, args: Seq[String]): Seq[Record] = {
    val dir = args.headOption.getOrElse(sys.error("fit needs <dir>"))
    val runs = args.lift(1).map(_.toInt).getOrElse(1)
    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()

    // mean ||v - nearest centroid||^2 over the full corpus: the refit
    // gate's statistic (Similarity.quantErrU's exact micro-unit sums)
    def mse(cents: Array[Array[Double]]): Double = {
      val (e, c) = sources.AnnIndex.errStatsU(spark, emb, cents)
      e.toDouble / math.max(1L, c) / 1000000.0
    }
    // the fit is eager; count() forces the assignment pass. The fit is
    // deterministic, so the error is measured once, untimed, on the
    // last run's centroids.
    def fitAt(fitFloor: Long): (Double, Double) = {
      val (secs, cents) = best(runs) {
        val (cells, cents) = operators.Similarity.ivfCellsOf(spark, emb, None, fitFloor = fitFloor)
        cells.count()
        cents
      }
      (secs, mse(cents))
    }
    val (fullS, fullE) = fitAt(Long.MaxValue)
    val (sampS, sampE) = fitAt(operators.Similarity.FitSampleFloor)
    Seq(ListMap("bench" -> "fit", "dir" -> dir, "n" -> n, "runs" -> runs,
      "full_secs" -> fullS, "sampled_secs" -> sampS, "full_mse" -> fullE,
      "sampled_mse" -> sampE, "mse_ratio" -> sampE / fullE))
  }
}
