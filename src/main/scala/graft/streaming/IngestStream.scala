package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{AnnIndex, Sources}

/** ONLINE INDEX INGESTION — the maintenance loop's streaming face,
  * closing the circle with [[ProbeStream]] (serving) and
  * [[graft.sources.AnnIndex]] (storage): each micro-batch of new
  * vectors is gated by MEASURED geometry before it may touch the
  * index.
  *
  *  - PASS (batch mean quantization error ≤ [[AnnIndex.RefitRatio]] ×
  *    the residents' own): the batch lands in the DELTA area via
  *    [[AnnIndex.appendDelta]] — `delta/batch=<id>/cid=…` dynamic
  *    overwrite, so a replayed trigger rewrites exactly its own
  *    partition (idempotent; plain append would double-count a
  *    crashed commit). [[AnnIndex.probeWithDelta]] serves base+delta;
  *    [[AnnIndex.compactDelta]] periodically folds the delta down.
  *  - FAIL (drifted batch — new domain, new embedding model): the
  *    batch is PARKED under `quarantine/batch=<id>` (same idempotent
  *    layout) for the next full rebuild; appending it would degrade
  *    probe recall for every query until then.
  *
  * The index side of the gate moment is precomputed ONCE at sink
  * start (it is constant between compactions), so per-trigger cost
  * is one map pass over the batch — no resident rescan per trigger
  * (the one-shot [[AnnIndex.refitGate]] rescans because it has no
  * lifecycle to amortize over). Decision comparison is exact BigInt
  * cross-multiplication, mirroring the gate's DECIMAL form.
  *
  * StreamingSpec proves: same-geometry batches land in the delta
  * with frozen-quantizer placement and become immediately probeable
  * (planted twins at cosine 1.0), a shifted batch is parked, replay
  * of a dropped commit leaves both areas identical, and compaction
  * preserves probe results row-for-row.
  */
object IngestStream {

  /** Query-sample size for the sampled recall measurement — well
    * inside [[AnnIndex.QueryMax]]; drawn deterministically (lowest
    * vec_ids) from the trigger's own batch, so the probes measure
    * the traffic actually arriving, and a replayed trigger measures
    * the identical sample. */
  val RecallSample = 64

  /** Start the gated ingestion sink: `vectors` is a streaming frame
    * with (vec_id long, embedding array<float>) rows. Every non-empty
    * trigger also appends one row to the DECISION LOG at `logPath`
    * (batch, n_rows, err-moment micro-sums both sides, refit,
    * recall_ppm, recall_refit) — batch-partitioned dynamic overwrite
    * like the data sinks, so the operator of the index can audit WHY
    * a batch was parked without reconstructing the gate; a replayed
    * trigger rewrites its own log row.
    *
    * TWO gates feed the log, because they catch different drift
    * classes (the r11 measurement, SURVEY §4.2):
    *
    *  - the MSE geometry gate (every trigger, one map pass over the
    *    batch): catches NEW-DOMAIN drift — a batch quantizing badly
    *    against the frozen centroids — and routes it to quarantine.
    *  - the SAMPLED RECALL gate ([[AnnIndex.recallGate]], every
    *    `recallEvery`-th trigger, `recallEvery = 0` disables):
    *    catches MASS drift — cluster structure dissolving in place,
    *    which erodes serving recall below 0.5 while mean quantization
    *    error stays quiet. It measures what the tier actually serves
    *    (nprobe probe vs exact probe over base + delta, AFTER this
    *    trigger's admission landed) for a bounded sample of the
    *    batch's own vectors. Its verdict does NOT quarantine the
    *    batch — the vectors themselves are geometry-fine — it lands
    *    in the log as `recall_refit`, where [[graft.sources
    *    .Maintenance.maintainAnn]] reads it as a rebuild trip like
    *    any MSE trip. Priced: 2 probes × ≤ [[RecallSample]] queries
    *    per sampled trigger, against partition-pruned cells only. */
  def ingestSink(vectors: DataFrame, basePath: String, deltaPath: String,
      quarantinePath: String, logPath: String, cents: Array[Array[Double]],
      checkpoint: String, recallEvery: Int = 8, recallNprobe: Int = 16,
      recallK: Int = 10,
      recallFloorPpm: Long = AnnIndex.RecallFloorPpm): StreamingQuery = {
    // resident geometry: constant between compactions, priced once
    lazy val idxStats = AnnIndex.errStatsU(vectors.sparkSession,
      vectors.sparkSession.read.parquet(basePath)
        .select(col("vec_id"), col("ed").as("embedding")), cents)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val b = batch.select("vec_id", "embedding").localCheckpoint()
        if (b.count() > 0) {
          val (eIdx, nIdx) = idxStats
          val (eB, nB) = AnnIndex.errStatsU(s, b, cents)
          // the SAME exact rational as the one-shot gate's DECIMAL
          // form (AnnIndex.refitCmp) — RefitNum/RefitDen BigInt
          // cross-multiply, no double product to truncate; the two
          // gates the docs call mirrors cannot disagree on a
          // boundary batch
          val refit = nIdx > 0 && AnnIndex.refitExceeds(eB, nB, eIdx, nIdx)
          if (refit)
            Sources.overwriteBatch(b.withColumn("batch", lit(id)), quarantinePath)
          else
            AnnIndex.appendDelta(s, deltaPath, cents, b, id)
          // sampled serving-recall measurement, AFTER the admission
          // landed (the probes see exactly what the tier now serves);
          // unsampled triggers log (-1, false) so the row schema is
          // constant and Maintenance's trip count stays a filter
          val (recPpm, recRefit) =
            if (recallEvery > 0 && id % recallEvery == 0) {
              val qs = b.orderBy("vec_id").limit(RecallSample).collect()
                .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
              val row = AnnIndex.recallGate(s, basePath, Some(deltaPath), cents,
                qs, recallNprobe, recallK, recallFloorPpm).collect()(0)
              (row.getAs[Long]("recall_ppm"), row.getAs[Boolean]("refit"))
            } else (-1L, false)
          import s.implicits._
          Sources.overwriteBatch(Seq((id, nB, eB, nIdx, eIdx, refit, recPpm, recRefit))
            .toDF("batch", "n_rows", "err_u_batch", "n_index", "err_u_index",
              "refit", "recall_ppm", "recall_refit"), logPath)
        }
        ()
      }
      .start()
  }
}
