package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity
import graft.sources.{AnnIndex, LexIndex, Sources}

/** ONLINE HYBRID RETRIEVAL — q160's serving face, closing the
  * retrieval family's loop the way [[ProbeStream]] closed the ANN
  * family's: each micro-batch of queries (query_id, text, embedding)
  * is answered from two PERSISTED indexes and fused, per trigger:
  *
  *  - lexical: the query's tokens probe the bucket-partitioned BM25
  *    posting index ([[LexIndex]] — partition pruning is the lookup;
  *    stopword-class postings were dropped at build, so no query can
  *    read a corpus-sized slice);
  *  - dense: the query's embedding probes the cid-partitioned IVF
  *    index ([[AnnIndex.probe]], the one probe path serving and
  *    batch share) — `nprobe` is the serving tier's recall/latency
  *    knob (nprobe = #cells degenerates to the exact scan);
  *  - fusion: `Similarity.fuseRanks` — the SAME RRF expression tree
  *    as batch q160, so serving and batch cannot drift.
  *
  * Results land partitioned BY BATCH with dynamic-overwrite
  * semantics: a replayed trigger (crash between sink write and
  * commit) rewrites exactly its own `batch=<id>` directory —
  * idempotent, effectively exactly-once at the directory level
  * ([[ProbeStream]]'s discipline).
  *
  * StreamingSpec proves per-trigger batch parity (a trigger carrying
  * q160's query contract over indexes built from the same corpus,
  * probed exhaustively, lands row-for-row on batch q160's output)
  * and replay idempotence (a dropped commit re-runs its batch and
  * leaves the sink identical).
  */
object RetrieveStream {

  /** Start the hybrid retrieval sink: `queries` is a streaming frame
    * with (query_id long, text string, embedding array<float>) rows;
    * per-trigger query volume is bounded by the serving contract. */
  def retrieveSink(queries: DataFrame, lexPath: String, lexStats: LexIndex.LexStats,
      annPath: String, cents: Array[Array[Double]], nprobe: Int,
      outPath: String, checkpoint: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // two consumers (token pairs + vector collect): barrier the
        // bounded trigger frame
        val b = batch.select("query_id", "text", "embedding").localCheckpoint()
        if (b.count() > 0) {
          // same tokenizer expression as the batch branch; distinct
          // pairs = the tf-aggregated qtok frame lexRank derives
          val qtok = b.select(col("query_id"),
            explode(expr(graft.operators.Dedup.tokensExpr)).as("tok")).distinct()
          val lex = LexIndex.probe(s, lexPath, lexStats, qtok, Similarity.HybK)
          val qvecs = b.select("query_id", "embedding").collect()
            .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
          val vec = AnnIndex.probe(s, annPath, cents, qvecs, nprobe, Similarity.HybK)
            .select(col("query_id"), col("neighbor_id").as("doc_id"),
              col("rank").as("vec_rank"))
          Sources.overwriteBatch(Similarity.fuseRanks(lex, vec)
            .withColumn("batch", lit(id)), outPath)
        }
        ()
      }
      .start()
}
