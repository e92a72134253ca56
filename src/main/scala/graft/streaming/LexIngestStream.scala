package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{LexIndex, Sources}
import graft.sources.LexIndex.LexStats

/** GATED LEXICAL INGESTION — [[IngestStream]]'s twin for the BM25
  * posting index, completing the triad's ingestion symmetry (dense →
  * IngestStream, near-dup admission → [[AdmitStream]], lexical →
  * this): each micro-batch of documents is gated by MEASURED
  * coverage drift before it may touch the index.
  *
  *  - PASS (the batch's frozen-vocab coverage share holds relative
  *    to the index's own — [[LexIndex.coverageGate]]'s exact DECIMAL
  *    cross-multiply): the batch lands in the delta via
  *    [[LexIndex.appendDelta]] (`delta/batch=<id>/tb=…` dynamic
  *    overwrite — a replayed trigger rewrites exactly its own
  *    partition) and `probeWithDelta` serves it immediately under
  *    the frozen vocabulary.
  *  - FAIL (drifted batch — new language, new source family: its
  *    queries would score on a vanishing fraction of their terms):
  *    parked under `quarantine/batch=<id>` for the next REBUILD
  *    (the lexical compaction — a posting fold cannot resurrect
  *    capped-out or never-seen tokens, see LexIndex).
  *
  * The index side of the gate (covered-occurrence sum + frozen
  * vocabulary) is priced ONCE at sink start ([[LexIndex.gateMoment]]
  * — constant between compactions), so per-trigger cost is one map
  * pass over the batch; the gate arithmetic is the SAME
  * [[LexIndex.coverageGateOf]] spelling as the one-shot gate.
  *
  * Per-trigger DECISION LOG (batch-partitioned dynamic overwrite,
  * idempotent replay): the gate row plus the batch's own LexStats
  * moments (n_docs, sum_dl) — the serving tier folds
  * `probeWithDelta`'s stats from the log instead of holding mutable
  * sink state, so a crash replay cannot double-fold.
  *
  * StreamingSpec proves: same-domain triggers land in the delta and
  * the folded-stats delta probe equals the batch-API path; a
  * novel-vocabulary trigger is parked; a dropped-commit replay
  * leaves delta, quarantine, and log identical.
  */
object LexIngestStream {

  /** Start the gated ingestion sink: `docs` is a streaming frame
    * with (doc_id long, text string) rows; `stats` the base index's
    * driver-held moments from [[LexIndex.write]]. */
  def ingestSink(docs: DataFrame, basePath: String, deltaPath: String,
      quarantinePath: String, logPath: String, stats: LexStats,
      checkpoint: String): StreamingQuery = {
    lazy val (covI, vocab) = {
      val (c, v) = LexIndex.gateMoment(docs.sparkSession, basePath)
      (c, v.localCheckpoint(false)) // N triggers consume the vocab
    }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val b = batch.select("doc_id", "text").localCheckpoint()
        if (b.count() > 0) {
          val g = LexIndex.coverageGateOf(covI, vocab, stats, b).collect()(0)
          val rebuild = g.getAs[Boolean]("rebuild")
          val bs =
            if (rebuild) {
              Sources.overwriteBatch(b.withColumn("batch", lit(id)), quarantinePath)
              LexStats(0L, 0L) // nothing admitted
            } else LexIndex.appendDelta(s, deltaPath, b, id)
          import s.implicits._
          Sources.overwriteBatch(Seq((id, g.getAs[Long]("n_occurrences"),
              g.getAs[Long]("n_covered"), g.getAs[Long]("cov_ppm_batch"),
              g.getAs[Long]("cov_ppm_index"), rebuild, bs.nDocs, bs.sumDl))
            .toDF("batch", "n_occurrences", "n_covered", "cov_ppm_batch",
              "cov_ppm_index", "rebuild", "n_docs_admitted", "sum_dl_admitted"), logPath)
        }
        ()
      }
      .start()
  }

  /** Serving-tier stats fold: base stats + the admitted moments of
    * every logged trigger (idempotent by construction — a replayed
    * trigger overwrote its own log row, so the fold counts it once). */
  def foldStats(s: org.apache.spark.sql.SparkSession, logPath: String,
      base: LexStats): LexStats = {
    // no log yet (sink started, no non-empty trigger committed) is a
    // legitimate serving state = base stats
    if (!Sources.exists(s, logPath)) base
    else {
      val r = s.read.parquet(logPath)
        .agg(sum("n_docs_admitted"), sum("sum_dl_admitted")).collect()(0)
      LexStats(base.nDocs + (if (r.isNullAt(0)) 0L else r.getLong(0)),
        base.sumDl + (if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
  }
}
