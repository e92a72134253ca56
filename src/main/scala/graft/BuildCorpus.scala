package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextOps}
import graft.sources.Sources

/** END-TO-END CORPUS BUILD — the one artifact-producing job a user of
  * this library ships, composing the already-verified operator stages
  * the way the reference composes loader→Kafka→Flink→Mongo
  * (reference Ajay6601/Ecommerce-Analytics `data_loader.py` +
  * `flink_processing`; this is its LLM-training-pipeline analog):
  *
  *   q108 intake validation → q85 normalize (STAGED corpus: the one
  *   intermediate materialization, so every downstream operator runs
  *   against normalized text) → q154 embedding dedup route + q168
  *   semantic decon (logged) → q68 gate (PII-clean ∧ exact+near-dup
  *   canonical ∧ quality, split) → q69 exact-gram + q86 fuzzy
  *   decontamination (flagged train docs dropped) → q72's mixture
  *   admission → q74 packing → content-hash SHARDS + q170 manifest +
  *   q79 data card + a per-stage DECISION LOG.
  *
  * Artifact layout under `out` (both builds unless marked):
  *   staged/documents.parquet    normalized corpus (+ embeddings copy)
  *   quarantine/                 intake rows normalize cannot repair,
  *                               with their quarantine_reason
  *   shards/shard=<k>/…          packed train docs with (bin_id,
  *                               bin_offset) — the shipped training set
  *   corpus/documents.parquet    the shipped docs as a corpus dir (the
  *                               card's input, and a re-auditable table)
  *   corpus/media.parquet        the shipped docs' payloads (media intake)
  *   manifest.parquet            per-shard doc/token/byte balance audit
  *   card.parquet                per-language release data card
  *   decisions.parquet           one row per stage: counts in/out + detail
  *   dupindex/                   base: near-dup index over staged, the
  *                               admission base increments probe
  *   phashes/                    base: admitted images' phashes (media
  *                               intake), the family-admission base
  *   mixstats/                   base: per-language (avail, shipped)
  *                               tokens, the drift gate's base row
  *   verdicts/batch=<id>/        increment: DupIndex.probe verdicts
  *
  * An increment also writes under `prev`, each batch-partitioned
  * (batch=<id>, dynamic overwrite, so a replay rewrites only its own):
  *   md5delta/     staged md5s, the exact-dup admission axis
  *   dupdelta/     novel docs' postings, the near-dup admission axis
  *   nextbin/      the next free bin id, the next increment's bin base
  *   phashdelta/   surviving admitted images' phashes (media intake)
  *   mixdelta/     per-language (avail, shipped) tokens
  *
  * Every stage is the EXISTING operator (same expression trees, same
  * thresholds), so the composed artifact cannot drift from the
  * operator suite — BuildCorpusSpec asserts the shipped rows equal
  * the operator chain applied stepwise against an independently
  * staged copy. Scale shape: one staged materialization (the
  * standard normalize-once trade), then each stage is the
  * scale-audited operator; shards are written partitioned by the
  * content-hash shard key so 1000 readers consume them independently.
  *
  * usage: runMain graft.BuildCorpus <inDir> <outDir> [<prevDir> <incId>]
  */
object BuildCorpus {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    // stage profiling for scale runs (the Dbg listener, env-gated):
    // SPARK_GRAFT_STAGE_MIN=<secs> prints every stage over the floor
    sys.env.get("SPARK_GRAFT_STAGE_MIN").map(_.toDouble)
      .foreach(Dbg.printStagesOver(spark, _))
    // usage: <in> <out>            — full build
    //        <in> <out> <prev> <n> — increment n against the build at <prev>
    val log =
      if (args.length >= 4) incremental(spark, args(0), args(2), args(1), args(3).toLong)
      else run(spark, args(0), args(1))
    log.collect().foreach(r => println(s"[build] ${r.mkString(" | ")}"))
    spark.stop()
  }

  /** Decision-ledger accumulator: each append stamps the wall
    * seconds since the previous stage landed, so a scale run's
    * [build] printout doubles as the stage profile (the r11 x300
    * attribution need — Spark stage names are all lazy-frame
    * lambdas, the ledger rows are the semantic stages). */
  private final class Ledger {
    private val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Long, String, Double)]
    private var t0 = System.nanoTime()
    def +=(row: (Int, String, Long, Long, String)): Unit = {
      val now = System.nanoTime()
      buf += ((row._1, row._2, row._3, row._4, row._5, (now - t0) / 1e9))
      t0 = now
    }
    /** Append with EXPLICIT wall seconds — for a stage measured on
      * its own thread or computed out of append order (the r14
      * overlap), where the auto-stamp would attribute another
      * stage's span. Resets the auto-stamp clock so the next auto
      * row covers only its own span. */
    def timed(row: (Int, String, Long, Long, String), secs: Double): Unit = {
      buf += ((row._1, row._2, row._3, row._4, row._5, secs))
      t0 = System.nanoTime()
    }
    def rows: Seq[(Int, String, Long, Long, String, Double)] = buf.toSeq
  }

  /** Broadcast ceiling for the duplicated-id list, in DISTINCT dup
    * ids (the q41 SzBroadcastMaxDocs sizing rationale: ~16 B/row ≈
    * 320 MB at the ceiling — with the ~2× hash-relation overhead,
    * the edge of a 4-8 GiB executor's broadcast budget). */
  private[graft] val DupBcastMaxIds = 20L * 1000 * 1000

  /** The duplicated-id join side for the intake quarantine: the list
    * comes off a scan that reads ONLY the id column and is
    * intake-anomaly-sized on HEALTHY intake (empty, never more than
    * the distinct dup ids) — broadcast it instead of shuffling the
    * corpus text by id. r14 (guide §3.1, the r13 verdict's unbounded-
    * broadcast hazard): dirty intake is exactly what this quarantine
    * path absorbs, and an adversarial intake where most ids repeat
    * would broadcast O(docs) rows — so the broadcast is GATED.
    * Cheap gate first: if the intake's RAW parquet row count (a
    * footer-metadata-only job, no repartition/text bytes — `raw`
    * itself carries the Tables rebalance) already fits the ceiling,
    * even an all-dup intake broadcasts safely and the dup list stays
    * LAZY (evaluated inside the keyed checkpoint's materialization,
    * as before). Past it, pay one id-only pass to count the ACTUAL
    * dup ids (checkpointed — the count and the join consume one
    * materialization) and fall back to a plain shuffled join only
    * when they genuinely exceed the ceiling. `maxBcast` is a
    * parameter so the spec drives the fallback branch directly. */
  private[graft] def dupIdSide(s: SparkSession, in: String, raw: DataFrame,
      maxBcast: Long = DupBcastMaxIds): DataFrame = {
    val dup = raw.groupBy("doc_id").agg(count(lit(1)).as("id_n"))
      .filter(col("doc_id").isNotNull && col("id_n") > 1)
      .select(col("doc_id"), lit(true).as("is_dup"))
    if (s.read.parquet(Tables.rawPath(in, "documents")).count() <= maxBcast)
      broadcast(dup)
    else {
      val d = dup.localCheckpoint(false)
      if (d.count() <= maxBcast) broadcast(d) else d
    }
  }

  /** Stages 0-1, shared by the full build and [[incremental]]:
    * intake audit → normalize-or-quarantine into `out`/staged +
    * `out`/quarantine. Rows the contract can't REPAIR are quarantined
    * with reasons rather than shipped or crashed on: normalize fixes
    * control bytes / whitespace / case, but a null or duplicated id,
    * null language, or text that normalizes to nothing has no
    * defensible downstream semantics (a null text would NPE the
    * tokenizers; a duplicated id makes every doc_id join fan out).
    * Normalization is q85's CORE as a direct projection
    * ([[TextOps.normalizeCol]]) — never a doc_id join, which a
    * duplicated intake id would fan out and a null id would drop
    * from. Returns (n_intake_docs, n_staged_docs). */
  private def intakeAndStage(s: SparkSession, in: String, out: String,
      decisions: Ledger)
      : (Long, Long) = {
    // r13 optimization (guide §1.2/§8): the intake audit used to be a
    // SEPARATE full-corpus action (q108: every flag regex + a
    // corpus-wide count(DISTINCT doc_id)), and the dup-id check then
    // paid a SECOND full-text shuffle (count(1) OVER (PARTITION BY
    // doc_id) — the whole normalized corpus crossed an id-keyed
    // exchange to count ids). Both facts are cheaper than a corpus
    // pass: the row-local audit flags (TextOps.intakeFlags — the
    // exact q108 expressions) now RIDE the normalize pass as an
    // Observation, and the only corpus-level fact, the duplicate-id
    // set, comes from a column-pruned scan of doc_id alone. The
    // heavy text bytes now move ONCE (scan → normalize → staged
    // write); the ledger rows carry byte-identical values
    // (BuildCorpusSpec's dirty-intake case pins them). Ledger wall
    // attribution shift: the intake row now lands after the first
    // keyed action, so its seconds include the quarantine write.
    val raw = Tables(s, in, "documents")
    val dupList = dupIdSide(s, in, raw)
    // the q108 row-local flags ride the normalize pass as BOOLEAN
    // COLUMNS (an Observation cannot: its metrics node materializes
    // inside the checkpoint's RDD job, outside any tracked SQL
    // action, and never reports). The flag expressions read the RAW
    // text/n_chars input attributes in the same projection that
    // replaces text with its normalized form; the audit counts are
    // then one tiny aggregate over the MATERIALIZED checkpoint — no
    // second corpus scan, no regex re-run.
    import TextOps.intakeFlags
    val keyed = raw
      .select(col("doc_id"), col("lang"), col("source"),
        TextOps.normalizeCol(col("text")).as("text"),
        (TextOps.normalizeCol(col("text")) =!= col("text")).as("changed"),
        // only the two flags the ledger records; the full q108 report
        // stays available as the declared operator
        intakeFlags.ctrl.as("f_ctrl"),
        intakeFlags.clean.as("f_clean"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .join(dupList, Seq("doc_id"), "left")
      .withColumn("quarantine_reason",
        when(col("doc_id").isNull, "null_id")
          .when(col("is_dup"), "dup_id")
          .when(col("text").isNull, "null_text")
          .when(col("text") === "", "empty_after_normalize")
          .when(col("lang").isNull, "null_lang"))
      .localCheckpoint(false) // 4 consumers: quarantine, audit agg, staged, count
    keyed.filter(col("quarantine_reason").isNotNull)
      .select("doc_id", "text", "lang", "source", "quarantine_reason")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/quarantine")
    // audit counts off the in-memory checkpoint (q108's sums of the
    // same row predicates — byte-identical ledger values)
    val audit = keyed.agg(
      count(lit(1)).as("n_docs"),
      intakeFlags.cnt(col("f_ctrl")).as("n_ctrl_chars"),
      intakeFlags.cnt(col("f_clean")).as("n_clean"),
      // n_dup_id == count(doc_id) - count(DISTINCT doc_id) ==
      // (rows carrying a duplicated id) - (distinct duplicated ids)
      // — the distinct runs over the anomaly-sized dup set only
      (intakeFlags.cnt(col("is_dup")) -
        countDistinct(when(col("is_dup"), col("doc_id")))).as("n_dup_id")).collect()(0)
    val nDocs = audit.getAs[Long]("n_docs")
    decisions += ((0, "intake", nDocs, audit.getAs[Long]("n_clean"),
      s"dup_id=${audit.getAs[Long]("n_dup_id")} ctrl=${audit.getAs[Long]("n_ctrl_chars")}"))
    // staged count + changed count OBSERVED on the write itself (over
    // STAGED rows only: a quarantined row that also normalized
    // differently must not double-book the ledger) — two extra count
    // actions were pure job-scheduling cost on the composed job (r9)
    val stObs = org.apache.spark.sql.Observation()
    keyed.filter(col("quarantine_reason").isNull)
      .observe(stObs, count(lit(1)).as("n"),
        coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L)).as("ch"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$out/staged/documents.parquet")
    val nStaged = stObs.get("n").asInstanceOf[Long]
    decisions += ((1, "normalize", nDocs, nStaged,
      s"q85 changed=${stObs.get("ch").asInstanceOf[Long]} quarantined=${nDocs - nStaged} -> staged/"))
    (nDocs, nStaged)
  }

  /** Build the corpus artifact at `out` from the raw tables at `in`;
    * returns the decision log (also persisted at out/decisions.parquet). */
  def run(s: SparkSession, in: String, out: String): DataFrame = {
    import s.implicits._
    val decisions = new Ledger
    val staged = s"$out/staged"
    val (nDocs, nStaged) = intakeAndStage(s, in, out, decisions)
    Tables(s, in, "embeddings")
      .write.mode(SaveMode.Overwrite).parquet(s"$staged/embeddings.parquet")

    // 8-overlapped. The ADMISSION ANCHOR for future increments: the
    // staged corpus's persisted near-dup signature index (the
    // DupIndex base [[incremental]] probes) — indexed over STAGED,
    // not shipped: novelty is judged against everything the corpus
    // has SEEN (a near-dup of a quality-dropped doc is still a
    // duplicate, and would only be re-dropped at its own gate
    // anyway). r14 (guide §2.6, the r13 verdict's #4): the index
    // depends ONLY on staged/documents (already on disk here) and
    // NOTHING below reads dupindex/, so it builds CONCURRENTLY on
    // its own thread while the gate/decon/pack/shard stages run —
    // Spark actions are thread-safe and the scheduler interleaves
    // the two job streams over the same cores. The ledger row still
    // lands LAST (rows stay ordered, counts unchanged; its
    // wall-seconds column now reads the residual wait, with the
    // index's own wall recorded in the detail — the overlap IS the
    // optimization). The thread re-reads staged/documents from disk:
    // no frame is shared across threads, and any failure propagates
    // after the join.
    val idxErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val idxWall = new java.util.concurrent.atomic.AtomicLong
    val sideTag = s"graft-build-side-${java.util.UUID.randomUUID}"
    val idxThread = sideThread(s, sideTag, "graft-dupindex") {
      try {
        val t0 = System.nanoTime
        graft.sources.DupIndex.writeFrom(s,
          Tables(s, staged, "documents").select("doc_id", "text"),
          s"$out/dupindex")
        idxWall.set(System.nanoTime - t0)
      } catch { case t: Throwable => idxErr.set(t) }
    }

    // 2+3-overlapped. The embedding-side audit, logged: the q154
    // router's verdict (banding vs cells, measured skew) and q168's
    // eval-proximity flags — the dense-side story of what the text
    // gates below do. ONE agg each (counts + verdict columns). r14
    // (guide §2.6): these rows are PURE AUDIT — nothing downstream
    // consumes them — and they touch only staged EMBEDDINGS while
    // the gate/decon chain touches only staged DOCUMENTS, so both
    // aggregates run on a side thread concurrent with the text
    // chain. Their ledger rows land in id order once the thread
    // joins, carrying their own measured walls (Ledger.timed — the
    // auto-stamp would attribute overlap time to the wrong stage).
    val embErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val embRes = new java.util.concurrent.atomic.AtomicReference[
      (org.apache.spark.sql.Row, Double, org.apache.spark.sql.Row, Double)]
    val embThread = sideThread(s, sideTag, "graft-embaudit") {
      try {
        val tr0 = System.nanoTime
        val routeRow = Dedup.q154(s, staged).agg(count(lit(1)).as("n"),
          coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)).as("k"),
          first("route").as("r"), first("med_skew_x1000").as("sk")).collect()(0)
        val tRoute = (System.nanoTime - tr0) / 1e9
        // ONE aggregate for both counts: two count() actions would
        // run the eval-proximity join twice (r8 review finding)
        val ts0 = System.nanoTime
        val sd = Similarity.q168(s, staged).agg(
          count(lit(1)).as("n"),
          sum(when(!col("contaminated"), 1L).otherwise(0L)).as("ok")).collect()(0)
        embRes.set((routeRow, tRoute, sd, (System.nanoTime - ts0) / 1e9))
      } catch { case t: Throwable => embErr.set(t) }
    }

    // a main-thread failure must not leave the side threads submitting
    // jobs (or writing dupindex/) behind the caller's back
    stopSidesOnFailure(s, sideTag, idxThread, embThread) {
      // 3. the gate ([[gateStep]]); own wall captured here, appended
      // in id order after the embedding thread joins
      val tg0 = System.nanoTime
      val (gateTrain, nGateAll, nGateTrain) = gateStep(s, staged)
      val tGate = (System.nanoTime - tg0) / 1e9

      // 4. decontamination: exact 8-gram (q69) ∪ fuzzy shingle-jaccard
      // (q86) flags over the staged corpus; flagged train docs drop
      val td0 = System.nanoTime
      val drop = Sampling.q69(s, staged).filter(col("contaminated")).select("doc_id")
        .unionByName(Sampling.q86(s, staged).filter(col("contaminated")).select("doc_id"))
        .distinct().localCheckpoint(false)
      val nDropped = gateTrain.join(drop, Seq("doc_id"), "left_semi").count()
      val tDecon = (System.nanoTime - td0) / 1e9

      embThread.join()
      Option(embErr.get).foreach(t => throw t)
      val (routeRow, tRoute, sd, tSd) = embRes.get
      decisions.timed((2, "embedding_route", routeRow.getLong(0), routeRow.getLong(1),
        s"route=${routeRow.getString(2)} med_skew_x1000=${routeRow.getLong(3)} (overlapped)"),
        tRoute)
      decisions.timed((3, "semantic_decon", sd.getLong(0), sd.getLong(1),
        "q168 vs eval vectors (overlapped)"), tSd)
      decisions.timed((4, "gate_keep", nStaged, nGateTrain,
        s"q68 kept_all_splits=$nGateAll"), tGate)
      decisions.timed((5, "decontaminate", nGateTrain, nGateTrain - nDropped,
        s"q69|q86 flagged_in_gate=$nDropped"), tDecon)

      // 4m. MEDIA stages ([[mediaStages]], only when the intake ships a
      // media.parquet). The base has no resident images: every admitted
      // hash lands in out/phashes, the family-admission base of later
      // increments.
      val mediaDrop = Option.when(hasMedia(s, in))(mediaStages(s, in, staged,
        resident = None, _.write.mode(SaveMode.Overwrite).parquet(s"$out/phashes"),
        decisions))

      // 5. mixture admission + packing over the survivors (q75's core
      // over the ALREADY-CHECKPOINTED gate set minus the drop set — the
      // composed gate legs must not execute a second time). No count
      // action here: |packed| == |shipped| (inner join on staged's
      // unique doc_ids), read off the stats agg below (r9)
      // no barrier on keepFinal: every leg (gate, drop, media verdicts)
      // is already checkpointed, so the two consumers (packing,
      // mixstats) re-run only cheap anti joins (the q31 measured-loss
      // lesson). The media-present ledger needs the exact keep count;
      // media-absent keeps r9's no-count profile (|gate| - |dropped|).
      val keepFinal = mediaDrop
        .foldLeft(gateTrain.join(drop, Seq("doc_id"), "left_anti"))(
          (k, md) => k.join(md, Seq("doc_id"), "left_anti"))
      val nKeep =
        if (mediaDrop.isDefined) keepFinal.count() else nGateTrain - nDropped
      val packed = Sampling.assembleKept(s, staged, keepFinal).localCheckpoint(false)

      // 6-7. shards, corpus dir, manifest, card ([[shipStage]])
      val stDocs = Tables(s, staged, "documents")
      val (shipped, shTot) = shipStage(s, in, out, stDocs, packed)
      val nPacked = shTot.getLong(3)
      decisions += ((8, "mix_pack", nKeep, nPacked,
        s"bins=${shTot.getLong(2)}"))
      decisions += ((9, "shards", nPacked, shTot.getLong(1),
        s"tokens=${shTot.getLong(0)} of_max_shards=${Sampling.NShards}"))

      // 8. the dup-index admission base, running concurrently since
      // the staging step — wait for it here so the ledger rows stay
      // ordered and the artifact is complete before run() returns
      idxThread.join()
      Option(idxErr.get).foreach(t => throw t)
      decisions += ((10, "dup_index", nStaged, nStaged,
        f"-> dupindex/ (admission base; overlapped, own_wall=${idxWall.get / 1e9}%.1fs)"))

      // mixture bookkeeping for [[mixtureGate]]: per-language available
      // (the final keep set, pre-mixture) and shipped token sums — the
      // base row the incremental chain's drift gate folds deltas into
      writeMixStats(s, stDocs.join(keepFinal, "doc_id"),
        shipped, s"$out/mixstats", batch = None)

      writeLog(s, decisions.rows, out)
    }
  }

  /** Starts `body` on a daemon thread whose Spark jobs carry `tag` (a
    * job tag, not a job group: the thread keeps the caller's group). */
  private[graft] def sideThread(s: SparkSession, tag: String, name: String)(body: => Unit): Thread = {
    val t = new Thread(() => { s.sparkContext.addJobTag(tag); body }, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** `body`, but if it throws: cancel every job tagged `tag` until the
    * `sides` threads have exited, then rethrow. */
  private[graft] def stopSidesOnFailure[A](s: SparkSession, tag: String, sides: Thread*)(body: => A): A =
    try body catch { case t: Throwable =>
      for (th <- sides) while (th.isAlive) { s.sparkContext.cancelJobsWithTag(tag); th.join(100) }
      throw t
    }

  /** Per-language (avail_tokens, shipped_tokens) row set: avail from
    * the keep frame's docs (one tokenize pass over the kept subset),
    * shipped from the shipped frame's carried n_tokens. `batch` set →
    * written batch-partitioned by dynamic overwrite (the increment
    * path); None → a plain overwrite (the base build). */
  private def writeMixStats(s: SparkSession, keptDocs: DataFrame,
      shipped: DataFrame, path: String, batch: Option[Long]): Unit = {
    val avail = keptDocs.groupBy("lang").agg(
      sum(expr(s"size(${graft.operators.Dedup.tokensExpr})").cast("long"))
        .as("avail_tokens"))
    val ship = shipped.groupBy("lang").agg(
      coalesce(sum("n_tokens"), lit(0L)).as("shipped_tokens"))
    val m = avail.join(ship, Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("avail_tokens"), lit(0L)).as("avail_tokens"),
        coalesce(col("shipped_tokens"), lit(0L)).as("shipped_tokens"))
    batch match {
      case Some(b) => Sources.overwriteBatch(m.withColumn("batch", lit(b)).coalesce(1), path)
      case None => m.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
    }
  }

  /** Share deviation (ppm) past which the incremental chain's shipped
    * mixture is declared drifted from what a full rebuild would ship
    * — 5 percentage points on any single language's token share. */
  val MixDriftPpm = 50000L

  /** MIXTURE-DRIFT GATE — the incremental contract's missing audit
    * (r8 verdict #5): [[incremental]] deliberately packs fresh bins
    * WITHOUT mixture re-admission, deferring rebalance to a full
    * rebuild; this gate tells an operator WHEN that rebuild is due.
    * Folds the base build's mixstats with every increment's mixdelta
    * row (all O(#langs), driver-exact), recomputes q72's ideal
    * admission over the COMBINED availability
    * ([[graft.operators.Sampling.idealMixTokens]] — the one MixDen
    * constant), and compares per-language shipped shares against
    * ideal shares in integer ppm (BigInt cross-multiply, the q142
    * wrap rule). One row: (n_langs, shipped_tokens, drift_ppm,
    * worst_lang, rebuild). */
  def mixtureGate(s: SparkSession, prev: String): DataFrame = {
    import s.implicits._
    val base = s.read.parquet(s"$prev/mixstats")
      .select("lang", "avail_tokens", "shipped_tokens")
    // no mixdelta yet: a base with no increments
    val deltas = readOrEmpty(s, s"$prev/mixdelta",
        "lang STRING, avail_tokens BIGINT, shipped_tokens BIGINT, batch BIGINT")
      .select("lang", "avail_tokens", "shipped_tokens")
    val rows = base.unionByName(deltas).groupBy("lang")
      .agg(sum("avail_tokens").as("a"), sum("shipped_tokens").as("sh"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ideal = graft.operators.Sampling.idealMixTokens(
      rows.map(r => (r._1, r._2)).toSeq).toMap
    val idealTot = ideal.valuesIterator.sum
    val shipTot = rows.map(_._3).sum
    def ppm(x: Long, tot: Long): Long =
      if (tot == 0L) 0L else (BigInt(x) * 1000000 / BigInt(tot)).toLong
    val drifts = rows.map { case (l, _, sh) =>
      l -> math.abs(ppm(sh, shipTot) - ppm(ideal.getOrElse(l, 0L), idealTot)) }
    val (worstLang, drift) =
      if (drifts.isEmpty) ("", 0L) else drifts.maxBy(d => (d._2, d._1))
    Seq((rows.length.toLong, shipTot, drift, worstLang, drift > MixDriftPpm))
      .toDF("n_langs", "shipped_tokens", "drift_ppm", "worst_lang", "rebuild")
  }

  private def hasMedia(s: SparkSession, in: String): Boolean =
    Sources.exists(s, Tables.rawPath(in, "media"))

  /** The gate (ledger row 4), shared by both builds: q68 (exact-dup canonical
    * ∧ near-dup canonical ∧ clean ∧ quality, with the content-keyed
    * split) over the staged corpus, checkpointed, and both ledger
    * counts from ONE aggregate over the checkpoint (r9: every count
    * action is a job launch). Returns (train ids, all rows, train rows). */
  private def gateStep(s: SparkSession, staged: String): (DataFrame, Long, Long) = {
    val gate = Sampling.q68(s, staged).localCheckpoint(false)
    val isTrain = col("split") === "train"
    val agg = gate.agg(count(lit(1)).as("all"),
      coalesce(sum(when(isTrain, 1L).otherwise(0L)), lit(0L)).as("tr")).collect()(0)
    (gate.filter(isTrain).select("doc_id"), agg.getLong(0), agg.getLong(1))
  }

  /** The media stages (ledger rows 6-7), shared by both builds, for an
    * intake that ships a media table. Docs carrying an IMAGE payload
    * are caption×image training pairs, and two more gates apply before
    * packing; non-image media (wav/stub-audio) passes through un-gated
    * (the audio family gate is q157's follow-up):
    *
    *  6. media_gate — q156's caption×image admission (caption quality
    *     ≥ CapQual ∧ real-header image with both dims ≥ MinDim) over
    *     the REAL payload decode, not the ASCII stub class, captions
    *     scored on the staged corpus;
    *  7. image_families — when `resident` (the admitted-image hashes
    *     already shipped: base + prior increments, via [[readPhashes]])
    *     is set, gate-kept images within hamming ≤ PhashHam of a
    *     resident image drop first — their family's canonical already
    *     shipped (the DupIndex admission discipline on the phash axis,
    *     [[operators.Dedup.hammingProbe]]). Families then form among
    *     the survivors (q171's core: phash banding pairs → connected
    *     families → min-id canonical) and only canonicals ship (a
    *     crawl's re-encoded logo family must not ship N times).
    *
    * `keepHashes` persists the survivors' hashes (ALL admitted family
    * members, canonical or not — 8 B per image), the family-admission
    * base of later increments: the base build writes `out`/phashes,
    * an increment its `prev`/phashdelta batch (the probe reads
    * exclude that batch, so a crash replay is a pure function of
    * pre-trigger state). Appends ledger rows 6 and 7 and returns the
    * doc-id drop set. Scale shape: two embarrassingly-parallel decode
    * passes (meta, phash) + q171's edge-sized machinery. */
  private def mediaStages(s: SparkSession, in: String, staged: String,
      resident: Option[DataFrame], keepHashes: DataFrame => Unit,
      decisions: Ledger): DataFrame = {
    import s.implicits._
    val pl = s.read.parquet(Tables.rawPath(in, "media"))
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
    // q70's decode plumbing over the payload table — IMAGE rows only;
    // wav/stub-audio media is not this gate's domain (q157's follow-up)
    val meta = Multimodal.decodeDs(pl)
      .filter(col("format").isin("png", "jpeg"))
      .select("doc_id", "width", "height")
    val cap = TextOps.q60(s, staged).select(col("doc_id"), col("quality_score"))
    // left join: media whose doc quarantined at intake has no caption
    // — an uncaptioned image pair cannot ship, so caption_ok = false
    val verdict = meta.join(cap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("quality_score") >= lit(Multimodal.CapQual.toDouble),
          lit(false)).as("caption_ok"),
        (least(col("width"), col("height")) >= Multimodal.MinDim).as("media_ok"))
      .withColumn("kept", col("caption_ok") && col("media_ok"))
      .localCheckpoint(false) // 3 consumers: ledger agg, hashes, drop set
    val va = verdict.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L)).as("k"),
      coalesce(sum(when(!col("caption_ok"), 1L).otherwise(0L)), lit(0L)).as("cf"),
      coalesce(sum(when(!col("media_ok"), 1L).otherwise(0L)), lit(0L)).as("mf"))
      .collect()(0)
    decisions += ((6, "media_gate", va.getLong(0), va.getLong(1),
      s"q156 real-decode caption_fail=${va.getLong(2)} media_fail=${va.getLong(3)}"))
    // ONE decode+hash pass over the ADMITTED images feeds the resident
    // probe, the family step and the persisted hashes
    val hashed = Multimodal.imageHashes(
      pl.toDF("doc_id", "payload")
        .join(verdict.filter(col("kept")).select("doc_id"), "doc_id")
        .as[(Long, Array[Byte])])
      .localCheckpoint(false) // consumers: families + hash write (+ probe, survivors)
    val residentDup = resident.map(r => Dedup.hammingProbe(
        hashed.withColumnRenamed("phash", "simhash"),
        r.withColumnRenamed("phash", "simhash"), Multimodal.PhashHam)
      .localCheckpoint(false)) // 2 consumers: survivor anti join, drop set
    val survivors = residentDup.fold(hashed)(d =>
      hashed.join(d, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)) // 2 consumers: families, hash write
    keepHashes(survivors)
    val fams = Multimodal.q171OfHashes(survivors.withColumnRenamed("phash", "simhash"))
      .localCheckpoint(false) // 2 consumers: ledger agg, drop set
    val fa = fams.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("is_canonical"), 1L).otherwise(0L)), lit(0L)).as("c"),
      countDistinct("family_id").as("f")).collect()(0)
    // an increment's row counts its gate-kept images in, resident dups
    // included; the base's counts its family members
    val (famIn, residentNote) =
      if (residentDup.isEmpty) (fa.getLong(0), "")
      else (va.getLong(1), s"resident_dups=${va.getLong(1) - fa.getLong(0)} ")
    decisions += ((7, "image_families", famIn, fa.getLong(1),
      s"q171 ${residentNote}families=${fa.getLong(2)} " +
        s"dropped_members=${fa.getLong(0) - fa.getLong(1)}"))
    (verdict.filter(!col("kept")).select("doc_id") +: residentDup.toSeq :+
        fams.filter(!col("is_canonical")).select("doc_id"))
      .reduce(_ unionByName _)
      .localCheckpoint(false)
  }

  /** Resident admitted-image hashes for [[mediaStages]]'s
    * family-admission probe: the base build's persisted phashes plus
    * prior increments' phashdelta batches (own batch excluded —
    * replay purity). [[run]] writes `phashes/` whenever its intake
    * ships media, so no phashes means a text-only base (empty
    * resident set); a base that shipped media without them predates
    * that layout and is rejected. */
  private def readPhashes(s: SparkSession, prev: String, excludeBatch: Long): DataFrame = {
    val ddl = "doc_id BIGINT, phash BIGINT"
    require(Sources.exists(s, s"$prev/phashes") ||
      !Sources.exists(s, s"$prev/corpus/media.parquet"),
      s"build $prev ships media but has no phashes/: it predates the current " +
        "layout; rebuild it with BuildCorpus.run")
    readOrEmpty(s, s"$prev/phashes", ddl).unionByName(
      readBatched(s, s"$prev/phashdelta", s"$ddl, batch BIGINT", excludeBatch)
        .select("doc_id", "phash"))
  }

  /** The shipping behind ledger rows 8-9, shared by both builds: the packed rows
    * joined back to `docs` (the caller's staged documents), content-
    * hash sharded so the split coordinate and the shard coordinate
    * stay independent (q170's ShardExpr), written as shards/, the
    * corpus dir (documents, plus the shipped docs' media when the
    * intake ships any), the manifest (q170's aggregation over the
    * SHIPPED rows) and the card (q79 over the shipped corpus dir).
    * Returns the checkpointed shipped rows and ONE totals row over
    * them, (tokens, shards, bins, docs, max bin_id — null when nothing
    * ships): the MEASURED shard count, not the NShards constant, since
    * a sub-NShards shipment writes fewer content-hash shards. */
  private def shipStage(s: SparkSession, in: String, out: String, docs: DataFrame,
      packed: DataFrame): (DataFrame, org.apache.spark.sql.Row) = {
    val shipped = docs.join(packed, "doc_id")
      .withColumn("shard", expr(Sampling.ShardExpr))
      .select("shard", "doc_id", "text", "lang", "source",
        "n_tokens", "bin_id", "bin_offset")
      .localCheckpoint(false) // 5 consumers: shards, corpus, manifest, totals, media
    shipped.write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(s"$out/shards")
    shipped.select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/corpus/documents.parquet")
    Sampling.manifestOf(shipped.select(col("shard"), col("n_tokens"),
        octet_length(col("text")).cast("long").as("n_bytes")))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/manifest.parquet")
    TextOps.q79(s, s"$out/corpus")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/card.parquet")
    val totals = shipped.agg(coalesce(sum("n_tokens"), lit(0L)).as("t"),
      countDistinct("shard").as("sh"), countDistinct("bin_id").as("b"),
      count(lit(1)).as("n"), max("bin_id").as("mb")).collect()(0)
    // shipped media rides with the shipped docs: the corpus dir is
    // itself multimodal (q155/q157/q171 probes of the SHIPPED dir see
    // exactly the admitted, family-deduped payloads)
    if (hasMedia(s, in))
      s.read.parquet(Tables.rawPath(in, "media"))
        .join(shipped.select("doc_id"), "doc_id")
        .select("doc_id", "payload")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/corpus/media.parquet")
    (shipped, totals)
  }

  private def writeLog(s: SparkSession,
      decisions: Seq[(Int, String, Long, Long, String, Double)], out: String): DataFrame = {
    import s.implicits._
    val log = decisions
      .toDF("stage_id", "stage", "n_in", "n_out", "detail", "secs")
      .orderBy("stage_id")
    log.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/decisions.parquet")
    log
  }

  /** INCREMENTAL corpus build — the daily-crawl shape: a delta corpus
    * at `in` is admitted against the PREVIOUS build at `prev` and
    * shipped as its own artifact at `out`, without re-deduplicating,
    * re-gating, or re-packing the prior corpus. Stages:
    *
    *  1. the shared intake/normalize/quarantine stage;
    *  2. exact-dup admission: md5 anti-join against the prior STAGED
    *     corpus (the sub-3-token class the shingle index cannot see)
    *     UNION prior increments' staged md5s — each increment persists
    *     its staged docs' md5s under `prev`/md5delta/batch=<id> by
    *     dynamic overwrite (the dupdelta discipline on the exact axis:
    *     the read excludes this increment's own batch, so a replay
    *     sees exactly the pre-trigger state), closing the r8-review
    *     gap where a short exact duplicate of an increment-1 doc
    *     shipped again in increment 2;
    *  3. near-dup admission: [[graft.sources.DupIndex.probe]] against
    *     `prev`/dupindex + the accumulated increment delta — q138's
    *     frozen-cap verdict, exactly the AdmitStream discipline
    *     (probe EXCLUDES this increment's own delta partition, then
    *     appends its novel docs' postings under `batch=incId` by
    *     dynamic overwrite, so a replay of the SAME increment against
    *     the same prior state is byte-identical and the NEXT
    *     increment dedups against this one);
    *  4. the q68 gate over the staged delta (intra-delta exact +
    *     near-dup canonicals, quality, PII, content-keyed split);
    *  5. decontamination against the EVAL SLICE: delta train docs
    *     sharing any capped 8-gram with prior-corpus OR delta
    *     val/test docs (the GramCap bounds the join's eval side; the
    *     near-dup axis of cross-split leakage is already covered by
    *     stage 3 — an eval near-dup in the prior corpus makes the
    *     delta doc a dup_of_corpus);
    *  6. packing into FRESH bins appended after the highest bin any
    *     PRIOR increment (or the base build) has consumed — the
    *     running last-bin is tracked in `prev`/nextbin/batch=<id>
    *     markers (dynamic overwrite; read excludes own batch), so
    *     chained increments' (bin_id, bin_offset) coordinates never
    *     collide even though no increment rewrites `prev`/shards
    *     (no cross-increment bin splicing; no mixture re-admission —
    *     a mixture rebalance is a full rebuild's job);
    *  7. shards/manifest/card/decisions for the increment.
    *
    * Scale shape: O(delta) for every stage except the eval-slice
    * gram join (O(delta + prior eval slice) — the slice, never the
    * prior train mass) and the md5 anti-join's one column projection
    * of the prior staged table. Out-of-order replay after LATER
    * increments is not supported (standard LSM discipline — the
    * probe's exclusion is of this increment's own partition only). */
  def incremental(s: SparkSession, in: String, prev: String, out: String,
      incId: Long): DataFrame = {
    import graft.sources.DupIndex
    val decisions = new Ledger
    val staged = s"$out/staged"
    val (_, nStaged) = intakeAndStage(s, in, out, decisions)
    val delta = Tables(s, staged, "documents").localCheckpoint(false)

    // 2. exact-dup admission vs the prior staged corpus + prior
    // increments' staged md5s (own batch excluded — replay purity)
    val prevStaged = s.read.parquet(s"$prev/staged/documents.parquet")
    val priorMd5 = prevStaged
      .select(md5(col("text").cast("binary")).as("h"))
      .unionByName(readBatched(s, s"$prev/md5delta", "h STRING, batch BIGINT", incId)
        .select("h"))
      .distinct()
    val exactDup = delta
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(priorMd5, Seq("h"), "left_semi")
      .select("doc_id").localCheckpoint(false)
    decisions += ((2, "exact_dup_vs_corpus", nStaged, nStaged - exactDup.count(),
      "md5 anti-join vs prev staged + prior increments"))
    // persist THIS increment's staged md5s for the next increment —
    // staged, not shipped (the dupindex-over-staged doctrine: novelty
    // is judged against everything the corpus has SEEN)
    Sources.overwriteBatch(
      delta.select(md5(col("text").cast("binary")).as("h"), lit(incId).as("batch")),
      s"$prev/md5delta")

    // 3. near-dup admission vs the persisted index (+ prior increments).
    // ONE tokenize for probe + appendDelta (the AdmitStream r13
    // preCapped discipline — each used to re-shingle the increment)
    val capped = DupIndex.cappedShingles(s, s"$prev/dupindex",
        delta.select("doc_id", "text"))
      .localCheckpoint(false)
    val verdicts = DupIndex.probe(s, s"$prev/dupindex", delta.select("doc_id", "text"),
        Some(s"$prev/dupdelta"), excludeBatch = Some(incId),
        preCapped = Some(capped))
      .localCheckpoint(false) // 3 consumers: sink + novel + count
    Sources.overwriteBatch(verdicts.withColumn("batch", lit(incId)), s"$out/verdicts")
    val novelIds = verdicts.filter(col("verdict") === "novel").select("doc_id")
    DupIndex.appendDelta(s, s"$prev/dupindex", s"$prev/dupdelta",
      delta.join(novelIds, Seq("doc_id"), "left_semi").select("doc_id", "text"), incId,
      preCapped = Some(capped))
    decisions += ((3, "neardup_admission", nStaged, novelIds.count(),
      s"DupIndex.probe batch=$incId"))

    // 4. the intra-delta gate ([[gateStep]])
    val (gateTrain, nGateAll, nGateTrain) = gateStep(s, staged)
    decisions += ((4, "gate_keep", nStaged, nGateTrain, s"q68 kept_all_splits=$nGateAll"))

    // 5. decontamination vs the eval slice (prior + delta val/test)
    val tk = expr(graft.operators.Dedup.tokensExpr)
    def grams(d: DataFrame) = d
      .withColumn("tk", tk)
      .select(col("doc_id"), explode(expr(Sampling.gramExpr)).as("s"))
    val isTrain = expr(Sampling.BucketExpr) < Sampling.TrainLt
    val evGrams0 = grams(prevStaged.filter(!isTrain).select("doc_id", "text")
      .unionByName(delta.filter(!isTrain).select("doc_id", "text")))
    // GramCap over the eval slice bounds the join's build side — the
    // hot-key discipline of q69, applied where the fan-out lives
    val evGrams = evGrams0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= Sampling.GramCap).select("s")
    val flagged = grams(delta.filter(isTrain).select("doc_id", "text"))
      .join(evGrams, Seq("s"), "left_semi")
      .select("doc_id").distinct().localCheckpoint(false)
    val keep0 = gateTrain
      .join(novelIds, Seq("doc_id"), "left_semi")
      .join(exactDup, Seq("doc_id"), "left_anti")
      .join(flagged, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    decisions += ((5, "decontaminate", nGateTrain, keep0.count(),
      s"eval-slice grams flagged=${flagged.count()}"))

    // 5m. media stages ([[mediaStages]], ledger ids 6/7 when the
    // increment ships media — mirroring the full build's gap pattern),
    // admitting families against base + prior increments' hashes.
    // Survivors' hashes land in this increment's prev/phashdelta batch.
    val mediaDrop = Option.when(hasMedia(s, in))(mediaStages(s, in, staged,
      Some(readPhashes(s, prev, incId)),
      h => Sources.overwriteBatch(h.withColumn("batch", lit(incId)), s"$prev/phashdelta"),
      decisions))
    val keep = mediaDrop
      .foldLeft(keep0)((k, md) => k.join(md, Seq("doc_id"), "left_anti"))

    // 8. pack into fresh bins after the highest bin the base build OR
    // any PRIOR increment consumed: the base contributes max(bin_id)+1
    // over prev/shards, each prior increment its persisted next_bin
    // marker (own batch excluded, so a replay packs from the same base)
    val shardNext = s.read.parquet(s"$prev/shards")
      .agg(coalesce(max("bin_id"), lit(-1L))).collect()(0).getLong(0) + 1L
    val markerNext = readBatched(s, s"$prev/nextbin", "next_bin BIGINT, batch BIGINT", incId)
      .agg(coalesce(max("next_bin"), lit(0L))).collect()(0).getLong(0)
    val binBase = math.max(shardNext, markerNext)
    val packed = Sampling.packKept(s, staged, keep, binBase).localCheckpoint(false)

    // 9. the increment's shipped artifact ([[shipStage]])
    val (shipped, shTot) = shipStage(s, in, out, delta, packed)
    // the running last-bin marker the NEXT increment's binBase reads;
    // an empty shipment consumes no bins: next_bin stays at binBase
    val nextBin = if (shTot.isNullAt(4)) binBase else shTot.getLong(4) + 1L
    import s.implicits._
    Sources.overwriteBatch(Seq((nextBin, incId)).toDF("next_bin", "batch"), s"$prev/nextbin")
    decisions += ((8, "pack", keep.count(), shTot.getLong(3),
      s"bins=${shTot.getLong(2)} bin_base=$binBase"))
    decisions += ((9, "shards", shTot.getLong(3), shTot.getLong(1),
      s"tokens=${shTot.getLong(0)} of_max_shards=${Sampling.NShards}"))

    // 10. mixture bookkeeping + the drift gate: this increment's
    // per-language (avail, shipped) row lands under prev/mixdelta
    // (dynamic overwrite — replay rewrites exactly its own batch),
    // then the gate folds base + ALL increments and reports whether
    // the un-rebalanced chain has drifted past the rebuild threshold
    writeMixStats(s, delta.join(keep, "doc_id"), shipped,
      s"$prev/mixdelta", batch = Some(incId))
    val mg = mixtureGate(s, prev).collect()(0)
    decisions += ((10, "mixture_drift", mg.getAs[Long]("n_langs"),
      mg.getAs[Long]("shipped_tokens"),
      s"drift_ppm=${mg.getAs[Long]("drift_ppm")} worst=${mg.getAs[String]("worst_lang")} " +
        s"rebuild=${mg.getAs[Boolean]("rebuild")}"))

    writeLog(s, decisions.rows, out)
  }

  /** Read a batch-partitioned side artifact under `prev`, EXCLUDING
    * this increment's own batch (replay purity: a re-run of increment
    * N must see exactly the state increments 1..N-1 left). */
  private def readBatched(s: SparkSession, path: String, ddl: String,
      excludeBatch: Long): DataFrame =
    readOrEmpty(s, path, ddl).filter(col("batch") =!= excludeBatch)

  /** `path` read under the explicit schema `ddl`, or no rows when it
    * does not exist yet (a first increment, a text-only base). The
    * explicit schema also covers a dir holding only the _SUCCESS of a
    * zero-row write. */
  private def readOrEmpty(s: SparkSession, path: String, ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    if (Sources.exists(s, path)) s.read.schema(schema).parquet(path)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
