package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** PERSISTED LEXICAL (inverted BM25) INDEX — q160's posting slice
  * written the way [[AnnIndex]] persists cells: postings live as
  * token-bucket-partitioned parquet (`path/tb=<b>/…`), so Spark's
  * partition pruning IS the index lookup — a probe lists and reads
  * only the buckets its query tokens hash into, and every other
  * posting list never leaves disk. The in-memory operator
  * ([[graft.operators.Similarity.lexRank]]) re-tokenizes the corpus
  * per session; a serving path builds the index once and probes it
  * per trigger ([[graft.streaming.RetrieveStream]]).
  *
  * What is persisted is exactly the slice q160's DF cap admits:
  * tokens with df ≤ HybDfMaxPpm·n_docs — the stopword-class postings
  * (the ones that would make a lookup read the corpus) are dropped AT
  * BUILD, so no query can ever pull them. Each posting row carries
  * its token's df denormalized (the probe is join-free: one pruned
  * scan → score → bounded TopK); corpus stats (n_docs, Σdl) are
  * driver-held metadata like AnnIndex's centroid matrix, returned by
  * [[write]] and passed to [[probe]] by the serving tier.
  *
  * Scoring is the SAME expression tree as the batch branch
  * (`Similarity.bm25CU` + `Similarity.lexRankOf` — the FreqStream
  * shared-expression discipline), so the persisted probe is
  * structurally incapable of drifting from q160's lexical ranking;
  * SourcesSpec asserts row-for-row equality and the plan's tb
  * PartitionFilters.
  */
object LexIndex {

  /** Token-hash bucket count: the pruning granularity. 64 keeps a
    * bucket ≈ 1/64 of the posting volume — at 100 TB each bucket is
    * still many files, so pruning saves listing+IO proportionally;
    * a deployment sizes this like any partition key (bounded
    * directory count, even volume via the hash). */
  val NBuckets = 64L

  /** Driver-held index metadata: integer-valued corpus stats (exact
    * longs; the scoring arithmetic consumes them as the same
    * integer-valued doubles the batch branch computes). */
  case class LexStats(nDocs: Long, sumDl: Long)

  private def bucket(tok: org.apache.spark.sql.Column) =
    pmod(xxhash64(tok), lit(NBuckets))

  // explicit read schemas (the DupIndex discipline): a df-capped
  // write over a tiny-vocab corpus can keep ZERO postings, and a
  // zero-row partitioned write leaves only _SUCCESS — nothing for
  // schema inference
  private val postSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tok STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE, df DOUBLE, tb BIGINT")
  private val deltaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tok STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE, batch BIGINT, tb BIGINT")

  /** Tokenize + df-cap + write the bucket-partitioned postings;
    * returns the stats metadata. One corpus tokenize pass feeds both
    * the posting frame and (by shared-lineage re-execution, the q31
    * rule) the df aggregate. */
  def write(s: SparkSession, dir: String, path: String): LexStats =
    writeFrom(s, graft.Tables(s, dir, "documents"), path)

  /** [[write]] over any (doc_id, text) frame — specs build bases
    * from corpus subsets to exercise the delta path. */
  def writeFrom(s: SparkSession, docs: DataFrame, path: String): LexStats = {
    val tkE = graft.operators.Dedup.tokensExpr
    val st = docs.agg(count(lit(1)).as("n"),
      sum(expr(s"size($tkE)").cast("long")).as("sdl")).collect()(0)
    val stats = LexStats(st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
    val post = docs.select(
        col("doc_id"),
        expr(s"size($tkE)").cast("double").as("dl"),
        explode(expr(tkE)).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val kept = post.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .filter(col("df") * lit(1000000.0) <=
        lit(Similarity.HybDfMaxPpm.toDouble) * lit(stats.nDocs.toDouble))
    post.join(broadcast(kept), "tok")
      .withColumn("tb", bucket(col("tok")))
      .select("tb", "tok", "doc_id", "dl", "tf", "df")
      // (tok, doc_id)-sorted within each bucket file: row-group
      // min/max stats then prune tok.isin probes inside the bucket
      .sortWithinPartitions("tok", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(path)
    stats
  }

  /** DELTA APPEND — incremental maintenance, the [[AnnIndex]] LSM
    * discipline on the lexical side: a batch of new documents lands
    * tokenized under `delta/batch=<id>/tb=<b>/` via DYNAMIC
    * overwrite (a replayed trigger rewrites exactly its own batch
    * partition — idempotent). Returns the batch's stats DELTA
    * (Δn_docs, Δsum_dl) for the serving tier to fold into its
    * [[LexStats]] per batch id, the way it holds AnnIndex's centroid
    * matrix.
    *
    * The VOCABULARY stays frozen at base build (the analog of the
    * frozen quantizer): delta postings persist for every token, but
    * [[probeWithDelta]] scores only base-kept tokens. Tokens whose
    * df has drifted across the cap — in either direction — reconcile
    * only at COMPACTION, which for a lexical index is a REBUILD
    * ([[write]] over the grown corpus): a posting-only fold cannot
    * resurrect the capped-out tokens the base build dropped, and the
    * cap must re-evaluate against current corpus stats.
    * [[coverageGate]] is the measured-drift rebuild trigger, the
    * refitGate analog. */
  def appendDelta(s: SparkSession, deltaPath: String, batch: DataFrame,
      batchId: Long): LexStats = {
    val tkE = graft.operators.Dedup.tokensExpr
    val st = batch.agg(count(lit(1)).as("n"),
      sum(expr(s"size($tkE)").cast("long")).as("sdl")).collect()(0)
    Sources.overwriteBatch(batch.select(
        col("doc_id"),
        expr(s"size($tkE)").cast("double").as("dl"),
        explode(expr(tkE)).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("tb", bucket(col("tok")))
      .withColumn("batch", lit(batchId))
      .select("batch", "tb", "tok", "doc_id", "dl", "tf"), deltaPath, Seq("batch", "tb"))
    LexStats(st.getLong(0), if (st.isNullAt(1)) 0L else st.getLong(1))
  }

  /** Probe base + delta under the FROZEN base vocabulary: both roots
    * prune on tb, the delta additionally restricts to tokens the
    * base kept (every kept token has ≥1 base posting, so the base
    * slice's distinct tokens ARE the admitted vocabulary for this
    * query). df is recomputed over the combined slice — the slice
    * holds every posting of each kept query token, so the recount is
    * the EXACT current df and the base's stored (stale) df never
    * scores a grown corpus. `stats` = base stats + folded deltas,
    * maintained by the serving tier. */
  def probeWithDelta(s: SparkSession, basePath: String, deltaPath: String,
      stats: LexStats, qtok: DataFrame, k: Int): DataFrame = {
    val q = qtok.select(col("query_id"), col("tok"),
      bucket(col("tok")).as("tb")).localCheckpoint(false)
    val (toks, tbs) = probeFootprint(q)
    // over-cap probes skip the isin pushdown but must STILL restrict
    // the slices to query tokens BEFORE the checkpoints below — a
    // distributed semi-join against the query-token frame, or the
    // materialized slice is every posting in the probed buckets
    def slice(path: String, schema: org.apache.spark.sql.types.StructType) = {
      val sl = tokSlice(s.read.schema(schema).parquet(path), toks, tbs)
        .select("tok", "doc_id", "dl", "tf")
      if (toks.isDefined) sl
      else sl.join(q.select("tok").distinct(), Seq("tok"), "left_semi")
    }
    val base = slice(basePath, postSchema).localCheckpoint(false) // 2 consumers: vocab + union
    // a sink whose every trigger so far was quarantined (or empty)
    // has no delta yet — base-only serving is the correct answer,
    // not PATH_NOT_FOUND (the DupIndex.residents rule)
    val delta =
      if (Sources.exists(s, deltaPath)) slice(deltaPath, deltaSchema)
      else base.limit(0)
    val all = base.unionByName(
      delta.join(base.select("tok").distinct(), Seq("tok"), "left_semi"))
    val dfNow = all.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    val scored = all.join(hintSmall(dfNow, toks), "tok")
      .join(hintSmall(q.select("query_id", "tok"), toks), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c_u", Similarity.bm25CU(
        lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
        col("df"), col("tf"), col("dl")))
    Similarity.lexRankOf(scored, k)
  }

  /** Rebuild ratio for [[coverageGate]], as an exact rational (the
    * [[AnnIndex.refitCmp]] doctrine): rebuild when the batch's
    * covered-occurrence share falls below CovDriftNum/CovDriftDen of
    * the index's OWN coverage share. The comparison is RELATIVE
    * because the df cap legitimately drops most occurrences of a
    * stopword-heavy natural corpus — absolute OOV share measures the
    * cap, not drift. */
  val CovDriftNum = 1L
  val CovDriftDen = 2L

  /** COVERAGE GATE — [[AnnIndex.refitGate]]'s lexical analog,
    * deciding append-vs-rebuild from MEASURED drift: the batch's
    * frozen-vocab coverage share (covered occurrences / total
    * occurrences) against the index's own (Σtf over postings /
    * Σdl of its corpus, from `stats`). A same-domain batch reads a
    * ratio ≈ 1; a drifted batch (new language, new source family)
    * collapses toward 0 — its queries would score on a vanishing
    * fraction of their terms. All-integer: occurrence counts are
    * longs, the decision a DECIMAL(38,0) cross-multiply (no double,
    * no division). One map pass over the batch + one bounded agg
    * off the index postings. Degenerate all-hot index (zero admitted
    * occurrences) never trips — there is no coverage to lose. */
  def coverageGate(s: SparkSession, basePath: String, stats: LexStats,
      batch: DataFrame): DataFrame = {
    val (covI, vocab) = gateMoment(s, basePath)
    coverageGateOf(covI, vocab, stats, batch)
  }

  /** The index side of the gate (covered-occurrence sum + frozen
    * vocabulary) — constant between compactions, so a streaming sink
    * ([[graft.streaming.LexIngestStream]]) prices it ONCE instead of
    * re-aggregating the postings per trigger (the IngestStream
    * idxStats / DupIndex baseDf discipline). The vocab frame is LAZY
    * here — a one-shot caller consumes it once and must not pay a
    * checkpoint; the long-lived sink checkpoints it itself. */
  def gateMoment(s: SparkSession, basePath: String): (Long, DataFrame) = {
    val idx = s.read.schema(postSchema).parquet(basePath)
    val covI = idx.agg(sum(col("tf").cast("long"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    (covI, idx.select("tok").distinct())
  }

  /** [[coverageGate]] against a precomputed index moment — ONE
    * arithmetic spelling for the one-shot and streaming gates. */
  def coverageGateOf(covI: Long, vocab: DataFrame, stats: LexStats,
      batch: DataFrame): DataFrame = {
    val tkE = graft.operators.Dedup.tokensExpr
    batch.select(explode(expr(tkE)).as("tok"))
      .join(broadcast(vocab.withColumn("_in", lit(1))), Seq("tok"), "left")
      .agg(count(lit(1)).as("n_occurrences"),
        // coalesced: a zero-occurrence batch (all-empty text, the
        // corpus family's ~5% null/empty class) must read as a clean
        // pass row, not NULLs the streaming caller unboxes blind
        coalesce(sum(when(col("_in").isNull, 0L).otherwise(1L)), lit(0L))
          .as("n_covered"))
      .select(col("n_occurrences"), col("n_covered"),
        // ppm shares multiply through DECIMAL/BigInt, never bare long
        // (the q142 wrap class: occurrence sums reach 1e13+ at scale)
        expr("CASE WHEN n_occurrences = 0 THEN 0 ELSE (CAST(n_covered AS DECIMAL(38,0)) * 1000000) div n_occurrences END")
          .as("cov_ppm_batch"),
        lit(if (stats.sumDl == 0L) 0L
            else (BigInt(covI) * 1000000 / BigInt(stats.sumDl)).toLong)
          .as("cov_ppm_index"),
        // covB/totB < (Num/Den)·covI/totI, cross-multiplied exactly
        (col("n_covered").cast("decimal(38,0)") * lit(stats.sumDl) * lit(CovDriftDen) <
          lit(covI).cast("decimal(38,0)") * col("n_occurrences") * lit(CovDriftNum))
          .as("rebuild"))
  }

  /** Probe: BM25 top-k per query over the persisted postings.
    * `qtok` = the bounded (query_id, tok) pairs of the trigger
    * (distinct per pair — the serving contract's analog of the batch
    * QueryMax rule). Only the buckets the query tokens hash into are
    * listed or read; dropped (hot) tokens have no postings by
    * construction, so they contribute nothing — exactly the batch
    * branch's kept-semi-join semantics. One footprint collect, then
    * one single-pass plan: bucket-pruned scan → score → bounded TopK. */
  def probe(s: SparkSession, path: String, stats: LexStats,
      qtok: DataFrame, k: Int): DataFrame = {
    val q = qtok.select(col("query_id"), col("tok"),
      bucket(col("tok")).as("tb")).localCheckpoint(false)
    val (toks, tbs) = probeFootprint(q)
    val scored = tokSlice(s.read.schema(postSchema).parquet(path), toks, tbs)
      .join(hintSmall(q.select("query_id", "tok"), toks), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c_u", Similarity.bm25CU(
        lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
        col("df"), col("tf"), col("dl")))
    Similarity.lexRankOf(scored, k)
  }

  /** Hard cap on the distinct query tokens a probe will COLLECT to
    * the driver and inline as a scan-pushdown `isin` literal (and on
    * broadcast-hinting the query side of the scoring join). A
    * serving trigger sits far below it; a backfill-sized query batch
    * used to blow up the driver and the plan here (the DupIndex.probe
    * docstring warns against collecting the keys — this face now
    * practices it). Above the cap, `None`: the tb partition filter
    * (≤ [[NBuckets]] values, always driver-bounded) still prunes
    * directories, the query-token restriction happens in the scoring
    * join itself, and join strategy is left to AQE's size estimates
    * instead of a forced broadcast of an unbounded frame. */
  val ProbeTokMax = 4096

  /** The probe's driver-bounded footprint: distinct tokens while they
    * fit [[ProbeTokMax]], distinct buckets always. One collect of the
    * distinct (tok, tb) rows serves both (tb is a function of tok);
    * only an over-cap batch adds a second collect of its ≤ [[NBuckets]]
    * buckets. */
  private def probeFootprint(q: DataFrame): (Option[Seq[String]], Seq[Long]) = {
    val rows = q.select("tok", "tb").distinct().limit(ProbeTokMax + 1).collect()
    if (rows.length <= ProbeTokMax)
      (Some(rows.map(_.getString(0)).toSeq), rows.map(_.getLong(1)).distinct.toSeq)
    else (None, q.select("tb").distinct().collect().map(_.getLong(0)).toSeq)
  }

  /** tb.isin is a PARTITION filter on the bucket directories; the
    * tok.isin (bounded probes only) prunes within the read buckets. */
  private def tokSlice(scan: DataFrame, toks: Option[Seq[String]],
      tbs: Seq[Long]): DataFrame = {
    val tb = scan.filter(col("tb").isin(tbs: _*))
    toks.fold(tb)(ts => tb.filter(col("tok").isin(ts: _*)))
  }

  private def hintSmall(df: DataFrame, toks: Option[Seq[String]]): DataFrame =
    if (toks.isDefined) broadcast(df) else df
}
