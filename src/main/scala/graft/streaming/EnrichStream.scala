package graft.streaming

import graft.operators.Events
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Input event (ts in integer micros — see graft.Tables on why).
  * `is_return` is precomputed from the SHARED Events.isReturn column
  * so batch and stream can never disagree on what a return is. */
case class Ev(event_id: Long, user_id: Long, event_type: String, ts_us: Long,
    value: Double, is_return: Boolean)
case class LtvState(cents: Long)
case class LtvOut(user_id: Long, event_id: Long, ltv: Double)

/** Per-event-type anomaly state: still-open hour buckets plus
  * Welford running stats (n, mean, M2) over CLOSED hours. */
case class AnomState(open: Map[Long, Long], maxTsUs: Long,
    n: Long, mean: Double, m2: Double)
case class AnomOut(event_type: String, hour_us: Long, n_events: Long,
    zscore: Double, is_anomaly: Boolean)

/** Structured Streaming mirror of the reference's Flink pipeline
  * (RealTimeAnalytics.java:63-104): source → keyed enrichment →
  * sinks, plus windowed aggregates and explicit keyed state.
  *
  * - The Kafka source/sink of the reference is a deployment adapter;
  *   here the stream is the parquet file source (same exactly-once
  *   file-based semantics Spark gives Kafka). Swapping in
  *   `format("kafka")` is a one-line change at the read/write sites.
  * - EnrichmentFunction.java's per-key ValueState LTV becomes
  *   `flatMapGroupsWithState` — Spark's keyed state store, which
  *   scales state across executors and checkpoints it, instead of a
  *   single-operator local state.
  * - The enrichment Columns are SHARED with the batch operator
  *   (Events.enrich): one definition, two execution modes.
  */
object EnrichStream {

  /** Event schema with ts as a raw long (nanos) — the contract for
    * replaySource/timeCompressedReplay backlog dirs and the test
    * fixtures; also the shape first-generation TIMESTAMP(NANOS)
    * events.parquet read as under nanosAsLong. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of events with micros timestamp rebuilt.
    * The file stream needs its schema up front, and events.parquet
    * has shipped as both TIMESTAMP(NANOS)-as-long and plain
    * TIMESTAMP(MICROS) (see Tables.events) — probe the file's batch
    * schema once and branch like the batch reader does. */
  def source(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // events.parquet is a single file; the file stream source wants a
    // directory, so stream the table dir filtered to that file.
    // Normalization is the SAME dispatch as the batch reader
    // (Tables.normalizeEventsTs) — one implementation, two modes.
    graft.Tables.normalizeEventsTs(
      spark.readStream
        .schema(fileSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Streaming enrichment — identical Columns to batch q21. */
  def enriched(spark: SparkSession, dir: String): DataFrame =
    Events.enrich(source(spark, dir))

  /** Watermarked hourly revenue per event type (the streaming
    * analog of q20 / the reference's real-time metrics topic). */
  def hourlyMetrics(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))

  /** Live heavy hitters — the streaming face of batch q76, giving
    * the mergeable-sketch family its online member: per event type,
    * the Misra-Gries summary of hot product keys, maintained as
    * streaming aggregation state. The udaf's k-bounded map IS the
    * state (per event type: at most k counters — bytes, not rows),
    * partials merge per micro-batch exactly like map-side combine in
    * batch, and the MG error envelope (est ∈ [true − n/(k+1), true],
    * survival guaranteed above n/(k+1)) holds for the stream prefix
    * at every emission. Complete output mode: the result is
    * #event-types × k rows — trivially re-emittable. */
  def heavyHitterStream(stream: DataFrame): DataFrame = {
    import graft.functions.HeavyHitters
    stream
      .withColumn("product_key", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(HeavyHitters.heavyHitters(Events.HhK)(col("product_key")).as("hh"))
      .select(col("event_type"), posexplode(col("hh")))
      .select(col("event_type"), col("col.id").as("product_key"),
        (col("pos") + 1).as("rank"), col("col.est").as("est_count"))
  }

  /** Real-time popular products (the reference's `popular_products`
    * Mongo collection, kept fresh by its Flink path): watermarked
    * SLIDING-window purchase counts + revenue per product key (1 h
    * window, 30 min slide). Ranking deliberately does NOT live in
    * the streaming aggregation — a streaming global sort is
    * unsupported, and a rank-per-window would force complete mode
    * over all state. The standard shape: the stream maintains the
    * per-(window, product) aggregate; each sink refresh ranks its
    * own micro-batch output with the bounded [[graft.functions.TopK]]
    * aggregate ([[topKPerWindow]]) — k-bounded work per update,
    * state bounded by the watermark. */
  def popularProducts(stream: DataFrame): DataFrame =
    stream
      .filter(col("event_type") === "purchase")
      .withColumn("product_key", get_json_object(col("props"), "$.k").cast("long"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("product_key"))
      .agg(count(lit(1)).as("n_purchases"), sum("value").as("revenue"))

  /** LIVE SEASONALITY PROFILE — batch q127's online face: the
    * day-of-week × hour activity heatmap maintained as streaming
    * aggregation state. Complete output mode is the right contract
    * here because the state is structurally bounded at ≤ #types·168
    * cells regardless of stream length (the same reason q127's batch
    * share window is safe); every emission re-publishes the whole
    * profile, which IS the product (a capacity-planning baseline).
    * Shares are derived per emission by [[seasonShares]] — the
    * normalizing window must not live in the streaming agg. */
  def seasonStream(stream: DataFrame): DataFrame =
    Events.seasonCells(stream) // the SAME expression tree as batch q127

  /** Share derivation over a [[seasonStream]] emission (or any cell
    * frame): q127's own share core, run per sink refresh over the
    * ≤ #types·168-row snapshot. */
  def seasonShares(cells: DataFrame): DataFrame =
    Events.seasonShare(cells).orderBy("event_type", "dow", "hr")

  /** LIVE ROLLING ACTIVE USERS — batch q131's online face at the
    * sketch level: per sliding 7-day window (1-day slide), the
    * distinct-user estimate via HLL++ (`approx_count_distinct`).
    * Exact windowed distinct over an unbounded stream is not
    * incrementalizable (the batch explode+dedup needs the full
    * user-day set); the sketch is the standard online substitute —
    * HLL registers merge by max, so the streaming estimate is
    * IDENTICAL to the batch sketch on the same data (spec-asserted),
    * and within the usual ~2 % envelope of exact. State: in append/
    * update output mode the watermark evicts closed windows, bounding
    * state to the ~8 windows overlapping the horizon (spec-measured
    * in update mode via numRowsTotal); COMPLETE mode — which the
    * batch-parity spec uses to read the full history — retains every
    * window ever opened and is for that parity check, not
    * deployment. */
  def rollingActiveStream(stream: DataFrame): DataFrame =
    stream
      .filter(col("user_id").isNotNull)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "7 days", "1 day"))
      .agg(approx_count_distinct("user_id").as("wau_est"))

  /** Batch-side ranking for [[popularProducts]] output (used per
    * micro-batch in foreachBatch, and by the parity spec): top-k
    * products per window by (purchases, revenue), ties to the lowest
    * product key via the bounded top-k aggregate — never a
    * #windows-partition row_number. The 1e9 packing keeps the count
    * strictly senior to revenue while one (window, product) cell's
    * revenue stays under 1e9; a deployment whose single-product
    * hourly revenue crosses that widens the multiplier. */
  def topKPerWindow(agg: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopK
    agg.groupBy(col("window.start").as("window_start"))
      .agg(TopK.topk(k)(col("n_purchases").cast("double") * 1e9 + col("revenue"),
        col("product_key")).as("top"))
      .select(col("window_start"), posexplode(col("top")))
      .select(col("window_start"), col("col.id").as("product_key"),
        (col("pos") + 1).as("rank"))
      .orderBy("window_start", "rank")
  }

  /** Keyed running LTV via explicit state (Flink ValueState analog).
    * Within each micro-batch, events are applied in event-time order;
    * the running cents survive across batches in the state store.
    * Return-aware like batch q22: returns subtract abs(amount)
    * (EnrichmentFunction.java:100-118).
    *
    * MEMORY CONTRACT: the `evs.toSeq.sortBy` buffers ONE USER'S
    * events of ONE MICRO-BATCH to order them — that is the unit this
    * operator assumes bounded. A live stream bounds it naturally
    * (micro-batches are seconds wide); a bulk BACKLOG must be
    * replayed paced — [[replaySource]] (maxFilesPerTrigger) or
    * [[timeCompressedReplay]] — so no single batch carries a hot
    * user's entire history. StreamingSpec's paced-backlog test holds
    * this contract: an 8-file hot-user backlog at one file per
    * trigger never buffers more than one file's rows per user. */
  def ltvStateful(events: Dataset[Ev]): Dataset[LtvOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type.contains("purchase") ||
        e.event_type.contains("return") || e.is_return)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, evs: Iterator[Ev], state: GroupState[LtvState]) => {
          var cents = state.getOption.map(_.cents).getOrElse(0L)
          val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
            cents +=
              (if (e.is_return) -math.floor(math.abs(e.value) * 100.0 + 0.5).toLong
               else math.floor(e.value * 100.0 + 0.5).toLong)
            LtvOut(uid, e.event_id, cents / 100.0)
          }
          state.update(LtvState(cents))
          out.iterator
        })
  }

  /** Hour width and finalization slack for [[anomalyStream]]. An
    * hour closes when the key's max observed event time passes
    * hour_end + slack — the manual watermark a chained
    * windowed-agg → stateful op would provide if Spark allowed
    * mixing fMGWS with other stateful operators (it does not). */
  private val HourUs = 3600L * 1000000L
  private val SlackUs = 30L * 60L * 1000000L

  /** z-score threshold shared with the spec. */
  private[graft] val AnomZ = 3.0

  /** Real-time anomaly detection on hourly event counts — the
    * streaming counterpart of batch q26 (reference README's anomaly
    * detection, live). One stateful operator per event type keeps
    * (a) open hour→count buckets and (b) Welford running stats over
    * hours already closed; when event time passes an hour's end plus
    * slack, the hour is finalized IN HOUR ORDER, scored against the
    * stats of strictly earlier hours (a prefix z-score — what a live
    * detector can actually know, unlike q26's full-corpus stats),
    * then folded into the running stats. State is bounded: at most
    * ceil(slack/hour)+1 open buckets plus three doubles per key,
    * regardless of stream length. Deterministic as long as no event
    * arrives later than the slack, matching the replay sources. */
  def anomalyStream(events: Dataset[Ev]): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (et: String, evs: Iterator[Ev], state: GroupState[AnomState]) => {
          var st = state.getOption.getOrElse(AnomState(Map.empty, Long.MinValue, 0L, 0.0, 0.0))
          val open = scala.collection.mutable.Map[Long, Long](st.open.toSeq: _*)
          var maxTs = st.maxTsUs
          evs.foreach { e =>
            val h = Math.floorDiv(e.ts_us, HourUs) * HourUs
            open(h) = open.getOrElse(h, 0L) + 1L
            if (e.ts_us > maxTs) maxTs = e.ts_us
          }
          val closing = open.keys.toSeq.sorted
            .filter(h => h + HourUs + SlackUs <= maxTs)
          var (n, mean, m2) = (st.n, st.mean, st.m2)
          val out = closing.map { h =>
            val x = open.remove(h).get.toDouble
            val prevN = n
            // std floored at 1e-9: identical prior counts (m2 = 0)
            // make any deviation maximally anomalous, not NaN
            val z =
              if (prevN < 2L) 0.0
              else (x - mean) / math.max(math.sqrt(m2 / (prevN - 1L)), 1e-9)
            n += 1L
            val d = x - mean
            mean += d / n
            m2 += d * (x - mean)
            AnomOut(et, h, x.toLong, z, prevN >= 2L && math.abs(z) >= AnomZ)
          }
          state.update(AnomState(open.toMap, maxTs, n, mean, m2))
          out.iterator
        })
  }

  /** Exactly-once bridge for an at-least-once replayed source (the
    * reference's Kafka consumer redelivers on rebalance): keyed
    * dedup with watermark-bounded state — a duplicate arriving
    * within the watermark horizon is dropped; state for older keys
    * ages out instead of growing forever. */
  def dedupedSource(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Typed view of the stream for stateful operators. */
  def typedSource(spark: SparkSession, dir: String): Dataset[Ev] =
    typed(source(spark, dir))

  /** DataFrame (with event columns + props) → typed stream. Mirrors
    * the batch family's null guards (q131's isNotNull filter, q140's
    * coalesce-to-0): an event without a user cannot be keyed by any
    * stateful operator downstream, and a NULL value would crash the
    * non-nullable Ev decode — the shipped driver corpus is null-free
    * but the GenData stress corpora carry ~5% NULLs by design. */
  def typed(df: DataFrame): Dataset[Ev] = {
    import df.sparkSession.implicits._
    df.filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("value"), lit(0.0)).as("value"),
        Events.isReturn.as("is_return"))
      .as[Ev]
  }

  /** Rate-limited replay of a directory of event files — the batch
    * analog of event_simulator.py's speed-factor pacing: the file
    * source admits at most `filesPerTrigger` files per micro-batch,
    * so a bulk backlog replays as a bounded stream instead of one
    * giant batch (same lever as Kafka's maxOffsetsPerTrigger). */
  def replaySource(spark: SparkSession, dir: String, filesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))

  /** Watermarked SESSION WINDOWS (30-minute inactivity gap) — the
    * streaming form of q23's batch sessionization, using the native
    * `session_window` aggregation: state merges windows as events
    * arrive and the watermark closes a session once no event can
    * extend it. Append mode therefore emits each session exactly
    * once, closed; sessions still open at the watermark stay in
    * state (the correct streaming semantics — a batch job sees the
    * whole history, a stream must wait out the gap). The window end
    * is last-event + gap by definition, so it equals q23's
    * session_end + 30 min. */
  def sessionizedStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** LIVE SESSION PATHS — batch q120's online face: per CLOSED
    * session (same session_window/watermark semantics as
    * [[sessionizedStream]]), the journey string of its first
    * [[graft.operators.Events.PathLen]] event types, emitted exactly
    * once in append mode.
    *
    * A stream cannot pre-rank its rows (no window before an agg), so
    * the cap applies at emission: state per open session is the
    * collected (us, event_id, type) structs — bounded by session
    * activity under the 30-min gap rule, the same bound the count
    * state in sessionizedStream already accepts; the deterministic
    * order is restored by array_sort on the integer (us, event_id)
    * prefix before slicing, exactly the batch assembly rule. */
  def sessionPathStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        expr(s"""array_join(transform(
                   slice(array_sort(collect_list(struct(unix_micros(ts) AS us, event_id, event_type))),
                         1, ${graft.operators.Events.PathLen}),
                   x -> x.event_type), '>')""").as("path"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("path"), col("n_events"))

  /** STREAM-STREAM interval join: each purchase matched to the same
    * user's views in the trailing hour — the real-time form of the
    * view→purchase attribution the batch funnel (q24) computes after
    * the fact. Both sides carry a 1-hour watermark and the join
    * condition bounds v_ts to [p_ts − 1h, p_ts], so the state store
    * retains at most the watermark horizon per side: state is
    * bounded by stream RATE, not stream history. An unbounded or
    * one-sided condition would accumulate state forever — the
    * watermark+interval pair is what makes the join deployable. */
  def viewToPurchase(stream: DataFrame): DataFrame = {
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"), col("value"))
  }

  /** EVENT-TIME speed-factor replay — the exact semantics of
    * event_simulator.py:31,160,183 (`time.sleep(delay/compression)`):
    * a compressed virtual clock admits each backlog event when the
    * clock passes its event time, so the stream re-emits history in
    * event-time order at `factor`× real time.
    *
    * Mechanics: the `rate` source ticks `ticksPerSecond` times per
    * real second; tick t admits the backlog slice with event_time in
    * `[vstart + t·Δ, vstart + (t+1)·Δ)` where Δ = factor/ticksPerSecond
    * virtual seconds and vstart is the backlog's earliest event.
    * Ticks are unique and the half-open windows tile virtual time, so
    * every event is admitted exactly once, and batch b's events all
    * precede batch b+1's in event time.
    *
    * The tick set is broadcast (a handful of rows per batch); the
    * backlog stays a partitioned static scan re-filtered per batch.
    * At scale, store the backlog partitioned by a time column so each
    * micro-batch's window prunes to matching partitions instead of
    * rescanning history. */
  /** One micro-batch fanned out to every sink directory, tagged and
    * partitioned by batch_id with DYNAMIC partition overwrite: a
    * replayed batch (at-least-once on restart recovery) overwrites
    * exactly its own partition in each sink instead of appending
    * duplicates — idempotent, hence effectively exactly-once per
    * sink. The batch is persisted so N sinks cost one upstream
    * computation, not N. Exposed for the idempotency spec. */
  private[graft] def writeBatch(df: DataFrame, batchId: Long, dirs: Seq[String]): Unit = {
    val tagged = df.withColumn("batch_id", lit(batchId)).persist()
    try {
      tagged.count() // materialize once before the sink fan-out
      dirs.foreach { d =>
        Sources.overwriteBatch(tagged, d, Seq("batch_id"))
      }
    } finally tagged.unpersist()
  }

  /** Multi-sink fan-out — the reference's RealTimeAnalytics emits
    * each enriched record to BOTH Kafka and MongoDB
    * (RealTimeAnalytics.java:49-61 source/sinks); the Structured
    * Streaming idiom is ONE foreachBatch writing the same
    * micro-batch to every sink via [[writeBatch]]'s idempotent
    * batch-partition overwrite. Local sinks are parquet directories
    * (swapping one for `format("kafka")`/a Mongo writer changes the
    * sink config inside the loop, not the fan-out or its
    * exactly-once argument). */
  def multiSink(enriched: DataFrame, checkpoint: String, dirs: String*)
      : org.apache.spark.sql.streaming.StreamingQuery =
    enriched.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        writeBatch(df, batchId, dirs)
      }
      .start()

  def timeCompressedReplay(spark: SparkSession, dir: String, factor: Double,
      ticksPerSecond: Int = 1): DataFrame = {
    val backlog = spark.read.schema(rawSchema).parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    val minRow = backlog.agg(min(unix_micros(col("ts")))).collect()(0)
    val vstartUs = if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
    val usPerTick = math.max(1L, math.rint(factor * 1e6 / ticksPerSecond).toLong)
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", ticksPerSecond.toLong).load()
      .select(col("value").as("tick"))
    val evUs = unix_micros(backlog("ts"))
    broadcast(ticks).join(backlog,
        evUs >= lit(vstartUs) + col("tick") * usPerTick &&
          evUs < lit(vstartUs) + (col("tick") + lit(1L)) * usPerTick)
      .drop("tick")
  }
}
