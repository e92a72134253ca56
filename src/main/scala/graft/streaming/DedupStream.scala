package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import scala.util.hashing.MurmurHash3

import graft.sources.Sources

/** One admitted document in a band bucket: id + its sorted distinct
  * shingle hashes (so arriving docs verify exact Jaccard online). */
sealed trait DocLike { def id: Long; def sh: Array[Long] }
case class DocSig(id: Long, sh: Array[Long]) extends DocLike
case class BucketState(docs: Seq[DocSig])
case class DupHit(d1: Long, d2: Long, jaccard: Double)

/** TTL'd resident: admission event-time (epoch ms) rides along so
  * stale residents can be evicted against the stream's watermark. */
case class DocSigT(id: Long, sh: Array[Long], ts: Long) extends DocLike
case class BucketStateT(docs: Seq[DocSigT])

/** Online near-duplicate detection — dedup-before-ingest for a
  * document STREAM, the streaming face of batch q41/q42: each
  * arriving document is checked against the full history it might
  * duplicate, in one pass, without ever comparing all pairs.
  *
  * Shape: per document, a 128-perm MinHash signature over its 3-gram
  * shingle hashes, banded 32×4 (q42's geometry — at the 0.6 Jaccard
  * threshold a true pair misses all bands with prob (1-0.6⁴)³² ≈
  * 1.2%); the document enters the stream keyed by each of its 32
  * band buckets, and a per-bucket `flatMapGroupsWithState` holds the
  * bucket's history. A new arrival is verified by EXACT Jaccard
  * against each resident's shingle set (sorted-array intersection),
  * emits every hit ≥ JaccThr, then joins the residents.
  *
  * Contracts, stated plainly:
  *  - State stores each document's shingle hashes once PER BAND
  *    (32× duplication) — the space/latency trade online LSH makes;
  *    at production scale the bucket history is capped
  *    ([[DedupStream.BucketCap]], the DF-cap analog: a bucket that
  *    overflows is a ubiquitous-content bucket, and further
  *    residents stop being admitted) and would carry a TTL.
  *  - A pair sharing several buckets is emitted once per shared
  *    bucket — at-least-once per pair; consumers dedupe on (d1,d2)
  *    (a second stateful dedup cannot be chained after fMGWS).
  *  - Within a micro-batch, a bucket's arrivals are processed in
  *    doc_id order, so the output set is replay-deterministic. */
object DedupStream {

  private val JaccThrD = graft.operators.Dedup.JaccThr.toDouble
  private val Perms = 128
  private val Bands = 32
  private val RowsPerBand = Perms / Bands
  /** Residents per (band, bucket) — shared by both online near-dup
    * guards, this one and [[EmbedDedupStream]]. */
  private[graft] val BucketCap = 1024

  private def longHash(s: String, seed: Int): Long = {
    val a = MurmurHash3.stringHash(s, seed)
    val b = MurmurHash3.stringHash(s, seed ^ 0x5bd1e995)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** Sorted distinct 3-gram shingle hashes of a document. */
  private[graft] def shingleHashes(text: String): Array[Long] = {
    val tk = text.split(" ").filter(_.nonEmpty)
    if (tk.length < 3) Array.empty
    else tk.sliding(3).map(w => longHash(w.mkString(" "), 0x9747b28c)).toArray
      .distinct.sorted
  }

  private def permHash(p: Int, h: Long): Long = {
    // cheap xorshift-style rehash of (p, h); fixed constants, so the
    // signature is stable across runs and partitionings
    var x = h ^ (0x9e3779b97f4a7c15L * (p + 1))
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** The 32 band-bucket keys of a document's 128-perm signature. */
  private[graft] def bandKeys(sh: Array[Long]): Array[Long] = {
    if (sh.isEmpty) return Array.empty
    val sig = Array.tabulate(Perms) { p =>
      var m = Long.MaxValue
      var i = 0
      while (i < sh.length) { val v = permHash(p, sh(i)); if (v < m) m = v; i += 1 }
      m
    }
    Array.tabulate(Bands) { b =>
      var acc = b.toLong
      var r = 0
      while (r < RowsPerBand) {
        acc = acc * 0x100000001b3L + sig(b * RowsPerBand + r)
        r += 1
      }
      acc
    }
  }

  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    if (a.length + b.length == c) 1.0
    else c.toDouble / (a.length + b.length - c)
  }

  /** Exact-Jaccard hits of one arrival against a bucket's residents —
    * shared by both stream variants so the threshold, rounding, and
    * pair orientation cannot drift between them. */
  private def hitsAgainst(res: Seq[DocLike], id: Long, sh: Array[Long]): Seq[DupHit] =
    res.flatMap { r =>
      val j = jaccard(r.sh, sh)
      if (j >= JaccThrD)
        Some(DupHit(math.min(r.id, id), math.max(r.id, id),
          math.floor(j * 1e6 + 0.5) / 1e6))
      else None
    }

  /** File-source stream of the documents table; `filesPerTrigger`
    * > 0 paces ingestion (one history increment per micro-batch). */
  def source(spark: SparkSession, dir: String, filesPerTrigger: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val r = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
    (if (filesPerTrigger > 0) r.option("maxFilesPerTrigger", filesPerTrigger) else r)
      .parquet(dir)
  }

  /** TTL'd variant of [[neardupStream]] for unbounded streams: each
    * resident carries its event-time admission stamp, residents older
    * than `ttl` relative to the watermark are evicted before matching
    * (their bucket slot frees up under [[BucketCap]]), and an idle
    * bucket's whole state is removed by an event-time timeout once
    * the watermark passes its newest resident + ttl — so state is
    * bounded by stream rate × ttl, not by history. Eviction follows
    * the WATERMARK, which trails the newest seen event time by the
    * configured delay and updates at batch boundaries — replay-
    * deterministic, like the rest of the operator. The watermark is
    * declared here on the banded rows' event-time field (zero
    * delay); callers supply event time as the third tuple field. */
  def neardupStreamTtl(docs: Dataset[(Long, String, java.sql.Timestamp)],
      ttl: java.time.Duration): Dataset[DupHit] = {
    import docs.sparkSession.implicits._
    val ttlMs = ttl.toMillis
    docs
      .flatMap { case (id, text, ts) =>
        val sh = shingleHashes(text)
        bandKeys(sh).map(k => (k, id, sh, ts))
      }
      .withWatermark("_4", "0 seconds")
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Array[Long], java.sql.Timestamp)],
            state: GroupState[BucketStateT]) => {
          val wm = state.getCurrentWatermarkMs()
          var docs0 = state.getOption.map(_.docs).getOrElse(Seq.empty)
            .filter(_.ts >= wm - ttlMs) // evict stale residents
          val out = Seq.newBuilder[DupHit]
          if (!state.hasTimedOut) {
            rows.toSeq.sortBy(_._2).foreach { case (_, id, sh, ts) =>
              if (docs0.size < BucketCap && !docs0.exists(_.id == id)) {
                out ++= hitsAgainst(docs0, id, sh)
                docs0 = docs0 :+ DocSigT(id, sh, ts.getTime)
              }
            }
          }
          if (docs0.isEmpty) state.remove()
          else {
            state.update(BucketStateT(docs0))
            // wake once the newest resident ages out (must sit beyond
            // the current watermark or Spark rejects it)
            state.setTimeoutTimestamp(
              math.max(docs0.map(_.ts).max + ttlMs, wm + 1L))
          }
          out.result().iterator
        })
  }

  /** Default linear candidate budget: 2 true partners per band per
    * document (2·Bands = 64) — an order of magnitude above normal
    * traffic's observed collision rate, an order below a template
    * flood's n²/2 blowup at any realistic trigger size. */
  private[graft] val CandBudgetPerDoc = 64L

  /** PER-TRIGGER CANDIDATE-BUDGET GUARD — the n-gram twin of
    * [[EmbedDedupStream.guardedIngest]], completing the r6
    * prescription for BOTH online dedup streams. The embedding guard
    * measures band skew against a 2^bits uniform floor; MinHash band
    * keys live in a 64-bit hash space with no such floor, so the
    * equivalent statistic here is the trigger's EXACT candidate
    * volume (Σ |bucket|·(|bucket|−1)/2 over its band buckets — what
    * the matcher would verify) against a LINEAR budget of
    * `candBudgetPerDoc`·n. Normal traffic generates O(bands) true
    * partners per doc; a boilerplate trigger (one template crawled
    * thousands of times per window) generates bands·n²/2 — the
    * stream-shaped q44 quadratic, which [[BucketCap]] would
    * otherwise silently truncate, LOSING true pairs instead of
    * slowing down. Tripped triggers park under
    * `quarantine/batch=<id>` for the batch-side route (q40's exact
    * dedup handles template floods linearly); admitted ones land
    * under `pass/batch=<id>` for the matcher. Batch-partitioned
    * dynamic overwrite + decision log throughout (the IngestStream
    * idempotent-replay discipline). */
  def guardedIngest(docs: DataFrame, passPath: String, quarantinePath: String,
      logPath: String, checkpoint: String,
      candBudgetPerDoc: Long = CandBudgetPerDoc)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val b = batch.select("doc_id", "text").localCheckpoint()
        val n = b.count()
        if (n > 0) {
          // the trigger's exact candidate volume under the stream's
          // own banding — one flatMap + one bounded agg, never the
          // verify pass it predicts
          val cands = b.as[(Long, String)].flatMap { case (_, text) =>
              bandKeys(shingleHashes(text)).toSeq
            }.toDF("k")
            .groupBy("k").agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("sz"))
            .agg(org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.expr("sz * (sz - 1) div 2")).as("c"))
            .collect()(0) match {
              case r if r.isNullAt(0) => 0L
              case r => r.getLong(0)
            }
          val admitted = cands <= candBudgetPerDoc * n
          Sources.overwriteBatch(
            b.withColumn("batch", org.apache.spark.sql.functions.lit(id)),
            if (admitted) passPath else quarantinePath)
          Sources.overwriteBatch(Seq((id, n, cands, candBudgetPerDoc * n, admitted))
            .toDF("batch", "n_docs", "cand_pairs", "budget", "admitted"), logPath)
        }
        ()
      }
      .start()

  /** docs (doc_id, text) stream → near-dup hits against history. */
  def neardupStream(docs: Dataset[(Long, String)]): Dataset[DupHit] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap { case (id, text) =>
        val sh = shingleHashes(text)
        bandKeys(sh).map(k => (k, id, sh))
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, Long, Array[Long])], state: GroupState[BucketState]) => {
          var docs0 = state.getOption.map(_.docs).getOrElse(Seq.empty)
          val out = Seq.newBuilder[DupHit]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, sh) =>
            if (docs0.size < BucketCap && !docs0.exists(_.id == id)) {
              out ++= hitsAgainst(docs0, id, sh)
              docs0 = docs0 :+ DocSig(id, sh)
            }
          }
          state.update(BucketState(docs0))
          out.result().iterator
        })
  }
}
