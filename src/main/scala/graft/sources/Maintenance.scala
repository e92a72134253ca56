package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAINTENANCE DRIVER for the persisted-index triad (SURVEY §2.H) —
  * the 100 TB table-maintenance story: every index already has
  * measured-drift gates (refitGate / coverageGate / hotGate) whose
  * verdicts land in per-trigger DECISION LOGS, and compaction /
  * rebuild primitives individually proved equivalent to from-scratch
  * builds. This is the loop that closes them: read each index's log,
  * decide what is DUE, and run it —
  *
  *  - gate tripped since the last compaction → the index's RECONCILE
  *    action: ANN refits the quantizer over base + delta + quarantine
  *    ([[AnnIndex.writeFrom]] — the parked batches were parked FOR
  *    this rebuild); DupIndex compacts ([[DupIndex.compact]]
  *    re-applies the df cap over the union, proved row-identical to
  *    a rebuild); LexIndex rebuilds over the caller-supplied grown
  *    corpus ([[LexIndex.writeFrom]] — a posting fold cannot
  *    resurrect capped-out or never-seen tokens, see LexIndex).
  *  - no trip but the delta has accumulated ≥ [[CompactBatches]]
  *    batch partitions → fold the delta (directory-count hygiene:
  *    probe cost carries a per-batch listing overhead the LSM fold
  *    reclaims). ANN folds via [[AnnIndex.compactDelta]] (frozen
  *    quantizer — placement is already final); Dup via
  *    [[DupIndex.compact]]; Lex rebuilds (its compaction IS a
  *    rebuild by the frozen-vocabulary contract).
  *  - otherwise → no-op (append-only serving is the healthy state).
  *
  * The driver only WRITES the new root at `outPath`; swapping roots
  * and truncating delta/quarantine/log is the serving tier's atomic
  * pointer flip (the standard LSM discipline — a crashed maintenance
  * run leaves the live root untouched).
  *
  * Scale shape: decisions read only the decision logs (one row per
  * trigger) and the delta's `batch=` partition VALUES (a listing,
  * not a scan); the actions are the already-scale-audited primitives.
  * MaintenanceSpec proves, for all three indexes: ingest past a gate
  * trip → run → the due action fires and the new root's probes equal
  * a from-scratch rebuild over the union corpus.
  */
object Maintenance {

  /** Delta batch-partition count past which a quiet index is folded
    * anyway — bounds probe-side directory enumeration. A deployment
    * tunes this like any LSM level-0 file cap. */
  val CompactBatches = 8L

  /** One index's maintenance outcome: the action taken ("rebuild" /
    * "compact" / "noop"), how many logged triggers had tripped the
    * gate, and the delta's batch-partition count at decision time. */
  final case class Verdict(index: String, action: String,
      trips: Long, deltaBatches: Long)

  /** Gate trips recorded in a decision log (absent log = no trips —
    * a sink that never committed a non-empty trigger). Every sink
    * writes all of its flags on every logged trigger
    * ([[graft.streaming.IngestStream]], [[graft.streaming.AdmitStream]],
    * [[graft.streaming.LexIngestStream]]), so a log missing one is
    * not this tree's and the read fails on it. */
  private def trips(s: SparkSession, logPath: String, flags: String*): Long =
    if (!Sources.exists(s, logPath)) 0L
    else s.read.parquet(logPath).filter(flags.map(col).reduce(_ || _)).count()

  /** Distinct `batch=` partition values of a delta root. Explicit
    * schema: an existing-but-empty delta (all-dup / all-quarantined
    * triggers) has only _SUCCESS markers and counts zero. */
  private def deltaBatches(s: SparkSession, deltaPath: String): Long =
    if (!Sources.exists(s, deltaPath)) 0L
    else s.read.schema("batch BIGINT").parquet(deltaPath)
      .select("batch").distinct().count()

  /** The ANN rebuild corpus: resident vectors of base + delta (their
    * stored `ed` IS the embedding) plus the quarantined batches —
    * parked by the refit gate precisely so the next rebuild's fit
    * sees their geometry. */
  def annCorpus(s: SparkSession, basePath: String, deltaPath: String,
      quarantinePath: String): DataFrame = {
    // explicit schema: an existing-but-empty root (all triggers
    // quarantined, or none parked) holds only _SUCCESS markers and
    // reads as zero rows
    def part(p: String, c: String) =
      if (!Sources.exists(s, p)) None
      else Some(s.read.schema(s"vec_id BIGINT, $c ARRAY<FLOAT>").parquet(p)
        .select(col("vec_id"), col(c).as("embedding")))
    val parts = (part(basePath, "ed") ++ part(deltaPath, "ed") ++
      part(quarantinePath, "embedding")).toSeq
    require(parts.nonEmpty,
      s"ann rebuild found no vectors under any of $basePath / $deltaPath / " +
        s"$quarantinePath — roots truncated or moved before maintenance ran?")
    parts.reduce(_ unionByName _)
  }

  /** ANN maintenance: refit-rebuild on a tripped gate (returns the
    * new centroid metadata for the serving tier), delta fold past
    * the batch cap, else no-op. */
  def maintainAnn(s: SparkSession, basePath: String, deltaPath: String,
      quarantinePath: String, logPath: String, outPath: String,
      cellSize: Option[Int] = None): (Verdict, Option[Array[Array[Double]]]) = {
    // EITHER gate trips the rebuild: the MSE geometry gate (new-domain
    // batches, quarantined) or the sampled serving-recall gate (mass
    // drift — admitted batches whose arrival eroded what the tier
    // serves; the r11 measurement showed the MSE gate alone lets
    // recall rot below 0.5, SURVEY §4.2). The rebuild corpus is the
    // same either way: base + delta + quarantine.
    val t = trips(s, logPath, "refit", "recall_refit")
    val b = deltaBatches(s, deltaPath)
    if (t > 0L) {
      // the rebuild inherits the deployment's cell-size policy
      // (cellSize) — a refit that silently changed cell granularity
      // would change probe cost and recall behind the tier's back
      val cents = AnnIndex.writeFrom(s,
        annCorpus(s, basePath, deltaPath, quarantinePath), outPath, cellSize)
      (Verdict("ann", "rebuild", t, b), Some(cents))
    } else if (b >= CompactBatches) {
      AnnIndex.compactDelta(s, basePath, deltaPath, outPath)
      (Verdict("ann", "compact", 0L, b), None)
    } else (Verdict("ann", "noop", 0L, b), None)
  }

  /** Near-dup index maintenance: [[DupIndex.compact]] serves both the
    * tripped-gate reconcile (re-applying the cap over the union is
    * the rebuild, proved row-identical) and the batch-cap fold.
    * EITHER flag trips it: the hot-template MASS gate (`rebuild`) or
    * the sampled admit-sensitivity gate (`admit_refit` — accumulated
    * templates already flipping admission verdicts; by construction
    * it only fires alongside the mass gate, grading its severity). */
  def maintainDup(s: SparkSession, basePath: String, deltaPath: String,
      logPath: String, outPath: String): Verdict = {
    val t = trips(s, logPath, "rebuild", "admit_refit")
    val b = deltaBatches(s, deltaPath)
    if (t > 0L || b >= CompactBatches) {
      DupIndex.compact(s, basePath, deltaPath, outPath)
      Verdict("dup", if (t > 0L) "rebuild" else "compact", t, b)
    } else Verdict("dup", "noop", 0L, b)
  }

  /** Lexical maintenance: both the tripped-gate reconcile and the
    * batch-cap fold are a REBUILD over `corpus` — the caller's grown
    * raw corpus (residents + admitted + parked docs; the deployment
    * owns the documents, the index persists only df-capped postings,
    * and the cap must re-evaluate against current corpus stats).
    * Returns the new driver-held stats. */
  def maintainLex(s: SparkSession, basePath: String, deltaPath: String,
      logPath: String, corpus: => DataFrame,
      outPath: String): (Verdict, Option[LexIndex.LexStats]) = {
    val t = trips(s, logPath, "rebuild")
    val b = deltaBatches(s, deltaPath)
    if (t > 0L || b >= CompactBatches) {
      // corpus is by-name: a caller assembling it eagerly (collects,
      // eager checkpoints) pays nothing on a no-op sweep
      val st = LexIndex.writeFrom(s, corpus, outPath)
      (Verdict("lex", if (t > 0L) "rebuild" else "compact", t, b), Some(st))
    } else (Verdict("lex", "noop", 0L, b), None)
  }

  /** Roots of one index's serving layout. `out` is where a due
    * action writes the replacement base. */
  final case class Roots(base: String, delta: String, quarantine: String,
      log: String, out: String)

  /** The sweep: one maintenance pass over all three indexes. `lexCorpus`
    * is the grown raw document corpus the lexical rebuild caps against
    * (lazy — only evaluated if the lexical index is due). */
  def sweep(s: SparkSession, ann: Roots, dup: Roots, lex: Roots,
      lexCorpus: => DataFrame): Seq[Verdict] =
    Seq(
      maintainAnn(s, ann.base, ann.delta, ann.quarantine, ann.log, ann.out)._1,
      maintainDup(s, dup.base, dup.delta, dup.log, dup.out),
      maintainLex(s, lex.base, lex.delta, lex.log, lexCorpus, lex.out)._1)
}
