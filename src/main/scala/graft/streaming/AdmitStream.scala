package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{DupIndex, Sources}

/** ONLINE CORPUS ADMISSION — the streaming face of the persisted
  * near-dup signature index ([[graft.sources.DupIndex]]), completing
  * the persisted-index triad's online story: dense → [[IngestStream]]
  * / [[ProbeStream]], lexical → [[RetrieveStream]], near-dup
  * admission → this. Each trigger of crawled documents gets q138's
  * verdict (dup_of_corpus + partner + exact Jaccard / novel) against
  * base + ALL PRIOR ADMITTED TRIGGERS, and only its novel documents
  * are appended to the index delta — so the next trigger dedups
  * against them and the at-rest corpus keeps exactly one copy per
  * near-dup family, without ever re-tokenizing the residents.
  *
  * Differs from [[DedupStream.neardupStream]] (in-memory MinHash
  * state, pairs within the stream's own history) the way ProbeStream
  * differs from the in-memory kNN: state here is the PERSISTED index
  * — it survives restarts with no stream-state rebuild, is shared
  * with the batch family (one `Dedup.shingledOf` tree), and is
  * served/compacted by the same artifact the batch backfill probes.
  * Intra-trigger duplicates are upstream's job (the stream guards /
  * batch q40) — both copies of a twin born in ONE trigger read as
  * novel and both are admitted, documented contract of
  * [[DupIndex.probe]].
  *
  * REPLAY: verdicts land batch-partitioned with dynamic overwrite
  * (the ProbeStream sink discipline). The probe EXCLUDES the
  * trigger's own delta partition (`excludeBatch`) — on a crash
  * replay the delta already holds `batch=<id>`, and probing against
  * it would surface intra-trigger pairs the first run never saw;
  * with the exclusion, verdicts are a pure function of (base, prior
  * batches, trigger) and the re-run rewrites both its verdict and
  * delta partitions byte-identically.
  *
  * Every non-empty trigger appends one DECISION-LOG row (the
  * IngestStream pattern): admission counts plus [[DupIndex.hotGate]]
  * priced over the delta AS THIS TRIGGER LEAVES IT — the rebuild
  * signal (a template accumulating across triggers crosses the df
  * cap in the delta long before probes degrade). Gate cost is one
  * aggregate over the accumulated delta, bounded by compaction
  * cadence (a rebuild via [[DupIndex.compact]] resets the delta).
  *
  * StreamingSpec proves: verdicts equal an exact sequential
  * frozen-cap Jaccard reference (base-twin AND cross-trigger-twin
  * both flagged with the right partner), only novel docs' postings
  * land in the delta, a dropped-commit replay leaves verdicts and
  * delta identical, and the post-restart trigger still dedups
  * against pre-crash admissions.
  */
object AdmitStream {

  /** Admit-sensitivity gate cadence: every `AdmitEvery`-th trigger
    * re-probes a bounded sample counterfactually (see [[admitSink]]).
    * The gated trigger pays one extra small-probe + one delta df
    * aggregate — amortized like IngestStream's recallEvery. */
  val AdmitEvery = 4

  /** Sample bound for the gate's counterfactual probe: the trigger's
    * lowest `AdmitSample` doc_ids (deterministic — the IngestStream
    * RecallSample idiom). */
  val AdmitSample = 64

  /** Start the admission sink: `docs` is a streaming frame with
    * (doc_id long, text string) rows; `basePath` a built
    * [[DupIndex]]. `admitEvery` overrides the gate cadence (specs
    * gate every trigger). */
  def admitSink(docs: DataFrame, basePath: String, deltaPath: String,
      verdictPath: String, logPath: String, checkpoint: String,
      admitEvery: Int = AdmitEvery): StreamingQuery = {
    // the hot gate's base comparand: static between compactions,
    // priced ONCE at sink start (the IngestStream idxStats
    // discipline) — per-trigger cost must not include re-aggregating
    // the base postings
    lazy val baseDfPre = DupIndex.baseDf(docs.sparkSession, basePath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val b = batch.select("doc_id", "text").localCheckpoint()
        if (b.count() > 0) {
          // ONE tokenize per trigger: probe, appendDelta and the
          // gate's sample re-probe all consume this frame (r13 —
          // each used to re-shingle the trigger from scratch)
          val capped = DupIndex.cappedShingles(s, basePath, b)
            .localCheckpoint(false)
          val verdicts = DupIndex.probe(s, basePath, b, Some(deltaPath),
              excludeBatch = Some(id), preCapped = Some(capped))
            .localCheckpoint(false) // 3 consumers: sink + novel + log
          // the admission tally rides the verdict write (q180 ledger
          // rule — it was a separate count job over the checkpoint)
          val admObs = new org.apache.spark.sql.Observation()
          Sources.overwriteBatch(verdicts.withColumn("batch", lit(id))
            .observe(admObs, count(lit(1)).as("n_docs"),
              sum(when(col("verdict") === "novel", 1L).otherwise(0L))
                .as("n_novel")), verdictPath)
          val novel = b.join(
            verdicts.filter(col("verdict") === "novel").select("doc_id"), "doc_id")
          val deltaSbs = DupIndex.appendDelta(s, basePath, deltaPath, novel, id,
            preCapped = Some(capped))
          // observed on the completed verdict write above (get blocks
          // until the action finishes; non-empty batch → never null)
          val admRow = admObs.get
          val adm = s.range(1).select(
            lit(admRow("n_docs").asInstanceOf[Long]).as("n_docs"),
            lit(admRow("n_novel").asInstanceOf[Long]).as("n_novel"))
          // gate scoped to the trigger's own delta-partition bucket
          // footprint: per-trigger cost tracks the trigger's slice,
          // not the whole accumulated delta, and every cap crossing
          // still trips on the trigger that caused it (the crossing
          // occurrence lives in that trigger's buckets — see
          // DupIndex.hotGate). An all-dup trigger wrote no delta
          // rows: empty footprint, clean gate row by construction.
          // The footprint comes back from appendDelta's own kept
          // frame (r13) — no per-trigger re-list + re-scan of the
          // partition the trigger just wrote.
          val sbs = deltaSbs
          // ADMIT-SENSITIVITY GATE (r13 — the recallGate analog on the
          // admission axis): every admitEvery-th trigger, re-probe a
          // bounded sample of the trigger's own docs with the
          // accumulated newly-hot template keys REMOVED
          // (DupIndex.probe dropKeys — the post-compaction
          // counterfactual, a Jaccard LOWER bound) and count verdicts
          // that FLIP. hotGate measures template MASS; admit_flips
          // measures whether that mass is ALREADY flipping admissions
          // — the severity grading (flips require newly-hot keys, so
          // admit_refit can only fire alongside the mass gate; it
          // tells maintenance the drift stopped being benign). The
          // key sweep is UNSCOPED (full accumulated delta): a hot
          // template in a bucket outside this trigger's delta
          // footprint can still flip this trigger's verdicts —
          // bounded by compaction cadence, paid 1-in-admitEvery.
          // Runs AFTER appendDelta in both first run and replay, so
          // the counterfactual is replay-pure.
          val gated = admitEvery > 0 && id % admitEvery == 0
          val (admSampled, admFlips) =
            if (!gated) (0L, 0L)
            else {
              val sample = b.orderBy("doc_id").limit(AdmitSample)
                .localCheckpoint(false) // 2 consumers: probe + ids
              val hot = DupIndex.newlyHotKeys(s, deltaPath, Some(baseDfPre))
                .localCheckpoint(false) // bounded: newly-hot templates
              val alt = DupIndex.probe(s, basePath, sample, Some(deltaPath),
                excludeBatch = Some(id), dropKeys = Some(hot),
                preCapped = Some(capped.join(sample.select("doc_id"),
                  Seq("doc_id"), "left_semi")))
              val flips = verdicts.select(col("doc_id"), col("verdict").as("v0"))
                .join(alt.select(col("doc_id"), col("verdict").as("v1")), "doc_id")
                .filter(col("v0") =!= col("v1"))
              (sample.count(), flips.count())
            }
          Sources.overwriteBatch(adm.join(
              DupIndex.hotGate(s, deltaPath, Some(baseDfPre), Some(sbs)), lit(true), "left")
            .withColumn("batch", lit(id))
            .withColumn("admit_sampled", lit(admSampled))
            .withColumn("admit_flips", lit(admFlips))
            .withColumn("admit_refit", lit(admFlips > 0L))
            .select("batch", "n_docs", "n_novel", "n_delta_shingles",
              "n_delta_rows", "n_newly_hot", "max_df", "cand_mass", "rebuild",
              "admit_sampled", "admit_flips", "admit_refit"), logPath)
        }
        ()
      }
      .start()
  }
}
