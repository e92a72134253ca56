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
  // schema inference. `imp` is the posting's exact build-time BM25
  // contribution in integer micro-units (bm25CU) — the max-score
  // pruning bound.
  private val postSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tok STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE, df DOUBLE, imp BIGINT, tb BIGINT")
  private val deltaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tok STRING, doc_id BIGINT, dl DOUBLE, tf DOUBLE, batch BIGINT, tb BIGINT")
  private val summSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tok STRING, df BIGINT, topimps ARRAY<BIGINT>, topdocs ARRAY<BIGINT>, tb BIGINT")

  /** Side-table paths under the index root. The leading underscore
    * hides them from the posting scans' file listing (the
    * _spark_metadata convention), so `read.parquet(path)` still sees
    * only `tb=*` posting directories. */
  private def summaryP(path: String) = s"$path/_summary"
  private def statsP(path: String) = s"$path/_stats"

  /** Tokenize + df-cap + write the bucket-partitioned postings;
    * returns the stats metadata. One corpus tokenize pass feeds both
    * the posting frame and (by shared-lineage re-execution, the q31
    * rule) the df aggregate. */
  def write(s: SparkSession, dir: String, path: String): LexStats =
    writeFrom(s, graft.Tables(s, dir, "documents"), path)

  /** [[write]] over any (doc_id, text) frame — specs build bases
    * from corpus subsets to exercise the delta path. */
  def writeFrom(s: SparkSession, docs: DataFrame, path: String): LexStats = {
    import s.implicits._
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
      // build-time exact contribution — the pruning bound AND (since
      // the pruned probe recomputes c_u from the same df/tf/dl with
      // the same expression) provably equal to what a probe under the
      // build stats scores
      .withColumn("imp", Similarity.bm25CU(
        lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
        col("df"), col("tf"), col("dl")))
      .withColumn("tb", bucket(col("tok")))
      .select("tb", "tok", "doc_id", "dl", "tf", "df", "imp")
      // (tok, doc_id)-sorted within each bucket file: row-group
      // min/max stats then prune tok.isin probes inside the bucket
      .sortWithinPartitions("tok", "doc_id")
      .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(path)
    // the max-score side tables (written AFTER the postings overwrite
    // wiped the root): per-token top impacts for θ seeding + the
    // build stats that gate pruning eligibility at probe time
    s.read.schema(postSchema).parquet(path)
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        graft.functions.TopK.topkL(TopImpsN + 1)(col("imp"), col("doc_id")).as("top"))
      .select(col("tok"), col("df"),
        expr("transform(top, x -> x.score)").as("topimps"),
        // the seed DOC IDS matching topimps index-for-index: the r11
        // θ̂ refinement accumulates per-doc partial sums across the
        // query's tokens' seed lists driver-side (a LOWER bound on
        // each doc's true score), lifting θ̂ far above the single-
        // token bound on multi-token queries
        expr("transform(top, x -> x.id)").as("topdocs"),
        bucket(col("tok")).as("tb"))
      .write.mode(SaveMode.Overwrite).partitionBy("tb").parquet(summaryP(path))
    Seq((stats.nDocs, stats.sumDl)).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(statsP(path))
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
    * branch's kept-semi-join semantics.
    *
    * When the serving stats still equal the persisted build stats,
    * the probe takes the PRUNED two-phase path ([[probePruned]]) —
    * provably equal-ranking, candidate-bounded. Otherwise (over-cap
    * query batch, delta-grown stats, k past the persisted seed depth)
    * it runs the unpruned single-pass plan. */
  def probe(s: SparkSession, path: String, stats: LexStats,
      qtok: DataFrame, k: Int): DataFrame = {
    val (pruned, unpruned) = probePaths(s, path, stats, qtok, k)
    pruned.getOrElse(unpruned)
  }

  /** Both probe plans over one shared footprint — the parity spec's
    * handle (the unpruned frame is lazy; only the pruned attempt runs
    * its bounded driver-side work). For a PairMax-bounded trigger the
    * whole footprint — pairs, distinct tokens, buckets — comes from
    * ONE collect (r9: the pruned path's extra per-trigger jobs are
    * exactly what made it lose to the single-pass plan at x10/x30);
    * only a backfill-shaped over-cap batch pays the two legacy
    * footprint collects. */
  private[graft] def probePaths(s: SparkSession, path: String, stats: LexStats,
      qtok: DataFrame, k: Int): (Option[DataFrame], DataFrame) = {
    val q = qtok.select(col("query_id"), col("tok"),
      bucket(col("tok")).as("tb")).localCheckpoint(false)
    val pairRows = q.select("query_id", "tok", "tb").distinct()
      .limit(PairMax + 1).collect()
    if (pairRows.length <= PairMax) {
      val toks0 = pairRows.map(_.getString(1)).distinct.toSeq
      val toks = if (toks0.length <= ProbeTokMax) Some(toks0) else None
      val tbs = pairRows.map(_.getLong(2)).distinct.toSeq
      val pairs = pairRows.map(r => (r.getLong(0), r.getString(1))).toSeq
      val tbOf = pairRows.map(r => r.getString(1) -> r.getLong(2)).toMap
      (probePruned(s, path, stats, q, pairs, tbOf, toks, tbs, k),
        probeUnpruned(s, path, stats, q, toks, tbs, k))
    } else {
      val (toks, tbs) = probeFootprint(q)
      (None, probeUnpruned(s, path, stats, q, toks, tbs, k))
    }
  }

  /** The unpruned single-pass plan — the pruned path's fallback AND
    * its parity reference (SourcesSpec asserts row-equality). */
  private[graft] def probeUnpruned(s: SparkSession, path: String, stats: LexStats,
      q: DataFrame, toks: Option[Seq[String]], tbs: Seq[Long], k: Int): DataFrame = {
    val scored = tokSlice(s.read.schema(postSchema).parquet(path), toks, tbs)
      .join(hintSmall(q.select("query_id", "tok"), toks), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c_u", Similarity.bm25CU(
        lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
        col("df"), col("tf"), col("dl")))
    Similarity.lexRankOf(scored, k)
  }

  /** Seed depth persisted per token: top (TopImpsN+1) posting impacts
    * descending. Pruning engages for k ≤ TopImpsN - 1... strictly, for
    * k < TopImpsN + 1 with the self-doc margin: θ̂ uses topimps(k)
    * (0-based), so k+1 impacts must exist — at most one of those k+1
    * docs is the query's own, leaving ≥ k foreign docs at score ≥ θ̂. */
  val TopImpsN = 32

  /** Driver-collected (query_id, tok) pair cap for the pruned path's
    * per-query split — the ProbeTokMax doctrine applied to pairs. */
  val PairMax = 65536

  /** Candidate (query_id, doc_id) broadcast cap: past it the trigger
    * is backfill-shaped and the unpruned shuffle plan is the right
    * one anyway. ~2M keys ≈ 32 MB broadcast. */
  val CandMax = 2000000L

  /** Engagement gates, both computed driver-side from the _summary
    * dfs (exact, no posting scan). Pruning's saving is the SAVED
    * pair-level posting volume (Σ df over non-essential indexed
    * (query, token) pairs); its cost is ∝ the ESSENTIAL pair-level
    * volume (the extra candidate scan + broadcast) plus ~2 fixed
    * jobs. Engage when saved ≥ [[PruneMinSaved]] AND saved ≥
    * [[PruneSavedFactor]]·essential.
    *
    * r11 RE-MEASURE (lex scenario A/B, 20-query triggers, local[32],
    * regenerated zipf corpora, seed-refined θ̂ making the split
    * maximally favorable to pruning): pruned-on LOSES at every
    * tested scale — 3.7 vs 3.1 (x10), 6.3 vs 3.4 (x30), 5.5 vs 3.9
    * (x100) s/trigger. The structural reason: [[Similarity
    * .lexRankOf]]'s bounded TopK aggregate takes map-side PARTIALS,
    * so the per-row shuffle the two-phase plan kills was never paid
    * — doomed rows die in the partial hash update (~ns each), while
    * the rescore phase re-reads every query token's postings
    * regardless (exactness needs candidate docs' non-essential
    * contributions, so no posting IO is ever saved). What remains
    * savable is the dead rows' score-compute + hash-update, which
    * only matters when the saved volume reaches ~10⁹ rows/trigger —
    * the floor is set THERE now. The r9 4M floor came from one
    * x100 pass whose 31% win did not survive re-measurement on
    * regenerated corpora (host conditions, not plan structure —
    * both A/B arms re-read 2026-08-16). The two-phase machinery
    * (and the θ̂ certificates) stay: parity-proved, forceable via
    * graft.lex.prune=on, and the designed path for posting volumes
    * this harness cannot reach. */
  val PruneMinSaved = 1000000000L
  val PruneSavedFactor = 4L

  /** MAX-SCORE TWO-PHASE PRUNED PROBE (WAND's batch-shaped sibling —
    * Broder et al.'s essential-list split, Turtle & Flood max-score;
    * document-at-a-time pointer walks don't map to a distributed
    * scan, the essential/non-essential term split does):
    *
    *  1. θ̂ seeding, driver-side, integer micro-units: the max of the
    *     single-token bound (the token's (k+1)-th best persisted
    *     posting impact — k+1 docs carry ≥ it on that token alone,
    *     at most one the query's own) and the r11 seed-doc bound
    *     (k-th best per-doc partial sum across the query tokens'
    *     persisted seed lists — see [[essentialSplit]]). Both are
    *     certified lower bounds on the true k-th best foreign score.
    *  2. essential split, driver-side: tokens sorted ascending by
    *     σ(t) = max posting impact; the largest prefix with Σσ < θ̂
    *     is non-essential — a doc matching ONLY those tokens scores
    *     < θ̂ ≤ θ and can never enter the top k. Every result doc
    *     must match ≥ 1 essential (typically rare, high-idf) token.
    *  3. candidate pass: scan ONLY the essential tokens' postings
    *     (tok.isin row-group pruning over the (tok, doc_id)-sorted
    *     bucket files) → distinct (query_id, doc_id) candidates.
    *  4. exact rescoring: the full query slice joins the candidate
    *     set with a BROADCAST left-semi BEFORE the aggregate, so the
    *     hot (non-essential) tokens' corpus-proportional posting rows
    *     die map-side instead of shuffling into lexRankOf — the
    *     measured |Q|·n retrieve wall at x30/x100 (SURVEY §4.2).
    *
    * Scoring recomputes c_u with the SAME bm25CU tree as the unpruned
    * plan (never the stored imp), so ranking equality is structural;
    * pruning only ever REMOVES rows of docs certified below θ.
    * Returns None (→ unpruned fallback) when: the footprint is
    * over-cap, the serving stats have drifted from the persisted
    * build stats (delta-grown index — imp would no longer bound the
    * live contribution), k exceeds the persisted seed depth, the pair
    * cap trips, no query has a non-essential token (pruning would
    * only add passes), or the candidate set exceeds [[CandMax]]. */
  private[graft] def probePruned(s: SparkSession, path: String, stats: LexStats,
      q: DataFrame, pairs: Seq[(Long, String)], tbOf: Map[String, Long],
      toks: Option[Seq[String]], tbs: Seq[Long], k: Int): Option[DataFrame] = {
    // A/B hook: SPARK_GRAFT_LEX_PRUNE=off measures the unpruned plan
    // on the same corpus/index (the lex scenario's comparison column);
    // =on drops the volume gate (the parity spec's small corpora).
    // System property first — env vars can't be set per-test in-JVM.
    val mode = sys.props.getOrElse("graft.lex.prune",
      sys.env.getOrElse("SPARK_GRAFT_LEX_PRUNE", "auto"))
    if (mode == "off") return None
    if (toks.isEmpty || k < 1 || k > TopImpsN) return None
    if (buildStats(s, path) != stats) return None
    val summRows = s.read.schema(summSchema).parquet(summaryP(path))
      .filter(col("tb").isin(tbs: _*)).filter(col("tok").isin(toks.get: _*))
      .select("tok", "df", "topimps", "topdocs").collect()
    val summ = summRows.map(r => r.getString(0) -> r.getSeq[Long](2).toArray).toMap
    val seeds = summRows.map(r => r.getString(0) -> r.getSeq[Long](3).toArray).toMap
    val dfOf = summRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val ess = essentialSplit(pairs, summ, k, seeds)
    val essSet = ess.toSet
    // exact pair-level volumes off the summary dfs: saved = what dies
    // map-side; essential = the candidate pass's scan + broadcast
    // bound (so no cand.count() job is ever needed — candidates ≤
    // essVol by construction)
    val essVol = ess.iterator.map { case (_, t) => dfOf(t) }.sum
    val savedVol = pairs.iterator.collect {
      case p @ (_, t) if dfOf.contains(t) && !essSet(p) => dfOf(t) }.sum
    if (savedVol == 0L) return None // nothing prunable
    if (mode != "on" &&
      (savedVol < PruneMinSaved || savedVol < PruneSavedFactor * essVol)) return None
    if (essVol > CandMax) return None
    import s.implicits._
    val essDf = ess.toDF("query_id", "tok")
    val essToks = ess.map(_._2).distinct
    val essTbs = essToks.map(tbOf).distinct
    val cand = tokSlice(s.read.schema(postSchema).parquet(path), Some(essToks), essTbs)
      .select("tok", "doc_id")
      .join(broadcast(essDf), "tok")
      .select("query_id", "doc_id").distinct()
    val scored = tokSlice(s.read.schema(postSchema).parquet(path), toks, tbs)
      .join(broadcast(q.select("query_id", "tok")), "tok")
      .join(broadcast(cand), Seq("query_id", "doc_id"), "left_semi")
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c_u", Similarity.bm25CU(
        lit(stats.nDocs.toDouble), lit(stats.sumDl.toDouble),
        col("df"), col("tf"), col("dl")))
    Some(Similarity.lexRankOf(scored, k))
  }

  /** The driver-side split (pure, unit-tested): per query, θ̂ from the
    * persisted seeds, then the ascending-σ prefix rule. Returns the
    * ESSENTIAL (query_id, tok) pairs; tokens absent from the index
    * (σ = 0: OOV or df-capped) are never essential — they have no
    * postings to read. All arithmetic in exact longs.
    *
    * θ̂ is the max of two certified lower bounds on the k-th best
    * FOREIGN score: (a) the single-token bound — some token's
    * (k+1)-th best posting impact (k+1 docs carry ≥ it on that token
    * alone; at most one is the query's own); (b) the r11 SEED-DOC
    * bound — per-doc partial sums accumulated across the query
    * tokens' persisted (impact, doc) seed lists, self-doc dropped
    * exactly, k-th largest partial taken. Every partial is a sum of
    * a subset of its doc's non-negative contributions, hence a lower
    * bound on that doc's true score, so ≥ k foreign docs truly score
    * ≥ θ̂₂. On multi-token queries (b) sits far above (a), growing
    * the non-essential prefix — the crossover lever. Empty
    * `seedDocs` leaves (a) alone. */
  private[graft] def essentialSplit(pairs: Seq[(Long, String)],
      topimps: Map[String, Array[Long]], k: Int,
      seedDocs: Map[String, Array[Long]] = Map.empty): Seq[(Long, String)] =
    pairs.groupBy(_._1).toSeq.flatMap { case (qid, ps) =>
      val toks = ps.map(_._2).distinct
      val sigma = toks.flatMap(t => topimps.get(t).flatMap(_.headOption).map(t -> _))
      val theta1 = toks.iterator.map(t =>
        topimps.get(t).filter(_.length > k).map(_(k)).getOrElse(0L))
        .foldLeft(0L)(math.max)
      val theta2 = if (seedDocs.isEmpty) 0L else {
        val acc = scala.collection.mutable.LongMap.empty[Long]
        toks.foreach { t =>
          (topimps.get(t), seedDocs.get(t)) match {
            case (Some(imps), Some(docs)) =>
              val m = math.min(imps.length, docs.length)
              var i = 0
              while (i < m) {
                val d = docs(i)
                if (d != qid) acc(d) = acc.getOrElse(d, 0L) + imps(i)
                i += 1
              }
            case _ => ()
          }
        }
        if (acc.size < k) 0L
        else {
          val vs = acc.values.toArray
          java.util.Arrays.sort(vs)
          vs(vs.length - k)
        }
      }
      val theta = math.max(theta1, theta2)
      if (theta <= 0L) sigma.map(ts => qid -> ts._1) // no seed: all indexed toks essential
      else {
        val asc = sigma.sortBy(ts => (ts._2, ts._1)) // deterministic order
        var run = 0L
        var cut = false
        val ess = Seq.newBuilder[(Long, String)]
        asc.foreach { case (t, sg) =>
          // once one token is essential, every later (≥σ) token is too
          // — the prefix rule, NOT a per-token test against a frozen
          // running sum
          if (cut || run + sg >= theta) { cut = true; ess += (qid -> t) }
          else run += sg
        }
        ess.result()
      }
    }

  /** Persisted build stats, memoized per index snapshot (keyed on the
    * tiny _stats dir's fingerprint — a rebuild rewrites it). A root
    * without `_stats` is not this tree's layout: the read fails. */
  private val statsCache = new graft.Memo.DirMemo[LexStats]
  private def buildStats(s: SparkSession, path: String): LexStats =
    statsCache.getOrElseUpdate(s, statsP(path), "lexstats") {
      val r = s.read.parquet(statsP(path)).collect()(0)
      LexStats(r.getAs[Long]("n_docs"), r.getAs[Long]("sum_dl"))
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

  /** The probe's driver-bounded footprint: distinct buckets (always),
    * distinct tokens only while they fit [[ProbeTokMax]]. */
  private def probeFootprint(q: DataFrame): (Option[Seq[String]], Seq[Long]) = {
    val toks = q.select("tok").distinct().limit(ProbeTokMax + 1)
      .collect().map(_.getString(0)).toSeq
    (if (toks.length <= ProbeTokMax) Some(toks) else None,
      q.select("tb").distinct().collect().map(_.getLong(0)).toSeq)
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
