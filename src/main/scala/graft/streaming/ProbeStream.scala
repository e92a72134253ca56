package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{AnnIndex, Sources}

/** ONLINE ANN SERVING — the streaming face of the persisted index
  * ([[graft.sources.AnnIndex]]): a stream of query vectors is probed
  * per micro-batch against the cid-partitioned index under the
  * FROZEN quantizer, so the serving path and the batch path share
  * one probe implementation (partition-pruned scan + exact cosine +
  * bounded TopK) and cannot drift.
  *
  * Contract: the per-trigger query volume is bounded (a serving
  * tier's batch of inflight queries — the streaming analog of the
  * batch QueryMax rule); the CORPUS side stays on disk and only the
  * probed `cid=` directories are ever read, so per-trigger work is
  * O(queries × nprobe × cell) regardless of index size. Results land
  * partitioned BY BATCH with dynamic-overwrite semantics: a replayed
  * trigger (crash between sink write and commit) rewrites its own
  * `batch=<id>` directory and nothing else — idempotent exactly-once
  * at the directory level, the same discipline as
  * [[EnrichStream]]'s multi-sink fan-out.
  *
  * StreamingSpec proves batch parity (per-trigger rows EQUAL
  * [[AnnIndex.probe]] over the same query set) and replay
  * idempotence (re-running a batch id leaves the sink identical).
  */
object ProbeStream {

  /** Start the probe sink: `queries` is a streaming frame with
    * (vec_id long, embedding array<float>) rows. */
  def probeSink(queries: DataFrame, indexPath: String,
      cents: Array[Array[Double]], nprobe: Int, k: Int,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // bounded by the serving contract; empty triggers write nothing
        val qs = batch.select("vec_id", "embedding").collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        if (qs.nonEmpty) {
          val s = batch.sparkSession
          Sources.overwriteBatch(AnnIndex.probe(s, indexPath, cents, qs, nprobe, k)
            .withColumn("batch", lit(id)), outPath)
        }
        ()
      }
      .start()
}
