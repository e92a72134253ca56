package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.VectorOps.dot
import graft.operators.Dedup
import graft.sources.Sources

/** One admitted vector in a (band, bucket): id + raw floats + L2
  * norm, so arrivals verify EXACT cosine online. */
sealed trait VecLike { def id: Long; def v: Array[Float]; def nrm: Double }
case class VecRes(id: Long, v: Array[Float], nrm: Double) extends VecLike
case class VecBucketState(docs: Seq[VecRes])
case class CosHit(id1: Long, id2: Long, cosine: Double)

/** TTL'd resident: admission event-time (epoch ms) rides along. */
case class VecResT(id: Long, v: Array[Float], nrm: Double, ts: Long) extends VecLike
case class VecBucketStateT(docs: Seq[VecResT])

/** Online embedding near-duplicate detection — the streaming twin of
  * batch [[graft.operators.Dedup.q44]], completing the
  * batch↔stream symmetry the n-gram side already has
  * ([[DedupStream]] ↔ q41/q42): each arriving vector is checked
  * against the full history it might duplicate, in one pass, without
  * all-pairs.
  *
  * Geometry is IDENTICAL to q44 by construction — the same fixed
  * plane matrix and band keys ([[Dedup.ndPlanes]]/[[Dedup.ndBandKeysG]]),
  * the same exact-cosine verification (the array twin of the
  * codegen'd DotProduct, [[graft.functions.VectorOps.dot]]),
  * the same threshold constant — so the emitted pair set equals the
  * batch operator's output exactly (StreamingSpec asserts set
  * equality, not recall). Same contracts as [[DedupStream]]:
  * at-least-once per shared bucket (consumers dedupe on the pair),
  * [[DedupStream.BucketCap]] bounds ubiquitous-content buckets, in-batch
  * arrivals process in id order for replay determinism. State here
  * holds the raw vector per residency (NdBands× duplication) — the
  * online-LSH space/latency trade; [[neardupStreamTtl]] bounds it
  * by rate × ttl for unbounded streams. */
object EmbedDedupStream {

  private val CosThrD = Dedup.CosThr.toDouble

  /** (band, key, id, raw floats, L2 norm) rows of one vector — the
    * ONE banding + norm computation both stream variants build on
    * (norm = sqrt of the self-dot, the batch l2norm arithmetic). */
  private def banded(planes: Array[Array[Double]], id: Long, v: Seq[Float])
      : Seq[(Int, Long, Long, Array[Float], Double)] = {
    val arr = v.toArray
    val nrm = math.sqrt(dot(arr, arr))
    Dedup.ndBandKeysG(planes, arr).zipWithIndex.map { case (k, band) =>
      (band, k, id, arr, nrm)
    }.toSeq
  }

  /** Exact-cosine hits of one arrival against a bucket's residents —
    * shared by both variants so the batch-parity arithmetic (the
    * codegen'd DotProduct's sequential accumulation, NULL-mirror on
    * length mismatch, r4 rounding, threshold constant) cannot drift
    * between them. */
  private def hitsAgainst(res: Seq[VecLike], id: Long, arr: Array[Float],
      nrm: Double): Seq[CosHit] =
    res.flatMap { r =>
      if (r.v.length != arr.length) None // batch DotProduct yields NULL
      else {
        val cos = dot(r.v, arr) / (r.nrm * nrm)
        if (cos >= CosThrD)
          Some(CosHit(math.min(r.id, id), math.max(r.id, id),
            math.floor(cos * 1e4 + 0.5) / 1e4))
        else None
      }
    }

  /** File-source stream of the embeddings table. */
  def source(spark: SparkSession, dir: String, filesPerTrigger: Int = 0): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val r = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
    (if (filesPerTrigger > 0) r.option("maxFilesPerTrigger", filesPerTrigger) else r)
      .parquet(dir)
  }

  /** TTL'd variant for unbounded vector streams, following
    * [[DedupStream.neardupStreamTtl]]'s contract verbatim: residents
    * older than `ttl` against the watermark are evicted before
    * matching (freeing their [[DedupStream.BucketCap]] slot), idle buckets are
    * removed by an event-time timeout, so state is bounded by
    * stream rate × ttl rather than corpus history — the knob that
    * makes an always-on embedding-ingest guard deployable. */
  def neardupStreamTtl(vecs: Dataset[(Long, Seq[Float], java.sql.Timestamp)],
      ttl: java.time.Duration): Dataset[CosHit] = {
    import vecs.sparkSession.implicits._
    val planes = Dedup.ndPlanes
    val ttlMs = ttl.toMillis
    vecs
      .flatMap { case (id, v, ts) =>
        banded(planes, id, v).map { case (band, k, i2, arr, nrm) =>
          (band, k, i2, arr, nrm, ts)
        }
      }
      .withWatermark("_6", "0 seconds")
      .groupByKey { case (band, k, _, _, _, _) => (band, k) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long),
            rows: Iterator[(Int, Long, Long, Array[Float], Double, java.sql.Timestamp)],
            state: GroupState[VecBucketStateT]) => {
          val wm = state.getCurrentWatermarkMs()
          var res = state.getOption.map(_.docs).getOrElse(Seq.empty)
            .filter(_.ts >= wm - ttlMs)
          val out = Seq.newBuilder[CosHit]
          if (!state.hasTimedOut) {
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, arr, nrm, ts) =>
              if (res.size < DedupStream.BucketCap && !res.exists(_.id == id)) {
                out ++= hitsAgainst(res, id, arr, nrm)
                res = res :+ VecResT(id, arr, nrm, ts.getTime)
              }
            }
          }
          if (res.isEmpty) state.remove()
          else {
            state.update(VecBucketStateT(res))
            state.setTimeoutTimestamp(math.max(res.map(_.ts).max + ttlMs, wm + 1L))
          }
          out.result().iterator
        })
  }

  /** PER-TRIGGER SKEW GUARD — q151/q154 wired in front of the online
    * near-dup state (the r6 verdict's prescription): the stream
    * variants above run FIXED banding geometry, so a drifted or
    * cluster-structured stream would hit the same quadratic the x30
    * batch corpus did (bands·n²/2^bits candidate floor) — except
    * online, where [[DedupStream.BucketCap]] silently CAPS the hot buckets and
    * the operator quietly stops seeing most true pairs instead of
    * slowing down. This guard measures each trigger BEFORE it may
    * touch the matcher's state: the trigger's (band, bucket) counts
    * run q151's exact candidate-volume statistic under the STREAM's
    * own geometry (`Dedup.ndDiagnosisOf` — the same tail q151
    * reports and q154 routes on), and the median skew multiple
    * decides:
    *
    *  - < gate (default [[graft.operators.Dedup.RouteSkewX1000]]):
    *    the trigger lands under `passPath/batch=<id>/` — admissible
    *    traffic for the matcher (a deployment tails the pass area
    *    into [[neardupStream]]/[[neardupStreamTtl]] as a file
    *    source);
    *  - ≥ gate: the trigger is PARKED under
    *    `quarantinePath/batch=<id>/` for the batch-side router
    *    (q154's cells route is the designed tool for clustered
    *    corpora — per-vector verdicts, linear output), and the
    *    matcher's state never absorbs the hot buckets.
    *
    * Both areas and the per-trigger DECISION LOG (batch, n_rows,
    * med_skew_x1000, admitted) write batch-partitioned with dynamic
    * overwrite — the IngestStream discipline: a replayed trigger
    * rewrites exactly its own partition, so the guard is idempotent
    * under crash-replay. StreamingSpec plants a hot-bucket trigger
    * between normal ones and proves routing, log, and replay. */
  def guardedIngest(vecs: DataFrame, passPath: String, quarantinePath: String,
      logPath: String, checkpoint: String,
      skewGateX1000: Long = Dedup.RouteSkewX1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val b = batch.select("vec_id", "embedding").localCheckpoint()
        val n = b.count()
        if (n > 0) {
          val planes = Dedup.ndPlanes
          val keys = b.as[(Long, Seq[Float])].mapPartitions { it =>
            it.flatMap { case (_, v) =>
              val ks = Dedup.ndBandKeysG(planes, v.toArray)
              Iterator.tabulate(ks.length)(band => (band, ks(band)))
            }
          }.toDF("band", "bkey")
          val skews = Dedup.ndDiagnosisOf(keys, n, Dedup.NdBits)
            .select("skew_x1000").collect().map(_.getLong(0)).sorted
          val med = skews(skews.length / 2)
          val admitted = med < skewGateX1000
          Sources.overwriteBatch(b.withColumn("batch", lit(id)),
            if (admitted) passPath else quarantinePath)
          Sources.overwriteBatch(Seq((id, n, med, admitted))
            .toDF("batch", "n_rows", "med_skew_x1000", "admitted"), logPath)
        }
        ()
      }
      .start()

  /** (vec_id, embedding) stream → exact-cosine near-dup hits. */
  def neardupStream(vecs: Dataset[(Long, Seq[Float])]): Dataset[CosHit] = {
    import vecs.sparkSession.implicits._
    val planes = Dedup.ndPlanes
    vecs
      .flatMap { case (id, v) => banded(planes, id, v) }
      .groupByKey { case (band, k, _, _, _) => (band, k) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, Long), rows: Iterator[(Int, Long, Long, Array[Float], Double)],
            state: GroupState[VecBucketState]) => {
          var res = state.getOption.map(_.docs).getOrElse(Seq.empty)
          val out = Seq.newBuilder[CosHit]
          rows.toSeq.sortBy(_._3).foreach { case (_, _, id, arr, nrm) =>
            if (res.size < DedupStream.BucketCap && !res.exists(_.id == id)) {
              out ++= hitsAgainst(res, id, arr, nrm)
              res = res :+ VecRes(id, arr, nrm)
            }
          }
          state.update(VecBucketState(res))
          out.result().iterator
        })
  }
}
