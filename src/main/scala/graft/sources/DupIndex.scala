package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ops}

/** PERSISTED NEAR-DUP SIGNATURE INDEX — the third member of the
  * persisted-index family (dense: [[AnnIndex]]; lexical ranking:
  * [[LexIndex]]; near-dup admission: this), and the artifact
  * `operators.Dedup.q138`'s docstring names as the production shape:
  * "the old index is the persisted artifact" that a daily crawl
  * increment probes WITHOUT re-tokenizing or re-capping the 100 TB
  * corpus. What is persisted is exactly the batch family's capped
  * shingle inverted index (reference Ajay6601/Ecommerce-Analytics
  * has no dedup surface; this extends the training-data-pipeline
  * family): postings live as shingle-hash-bucket-partitioned parquet
  * (`path/post/sb=<b>/…`), each posting carrying its document's
  * capped set size `n` DENORMALIZED — the Jaccard verdict needs no
  * corpus-global statistic at probe time (unlike BM25's df), so the
  * probe is one equi-join against at-rest postings plus per-batch
  * arithmetic. The build-time over-cap ("hot") shingle set persists
  * beside the postings (`path/hot/sb=<b>/…`) because probes and
  * delta ingest must cap NEW documents' shingle sets against the
  * SAME frozen list the residents were capped against.
  *
  * Shingling is [[graft.operators.Dedup.shingledOf]] — the ONE
  * expression tree the batch operators use (the FreqStream shared-
  * expression discipline), so index build, delta ingest, and q41/q138
  * backfills cannot drift on what a shingle is.
  *
  * FROZEN-HOT DISCIPLINE (the frozen-quantizer / frozen-vocabulary
  * analog, but with a PROOF the others lack): document frequency is
  * MONOTONE under corpus growth — a shingle over the cap at base
  * build can only gain occurrences — so the frozen hot list never
  * wrongly drops a shingle, and appends stay exact. Only the
  * converse drifts: a shingle that crossed the cap AFTER base build
  * (a new boilerplate template) keeps accumulating delta postings
  * and match-multiplies every probe on that key — [[hotGate]] is the
  * measured-drift trigger (the refitGate/coverageGate analog), and
  * [[compact]] reconciles by re-applying the cap over the union,
  * which SourcesSpec proves IDENTICAL to a from-scratch rebuild
  * (hot_base ⊆ hot_union by monotonicity makes the fold lossless).
  *
  * Contract: delta batches carry doc_ids disjoint from residents
  * (re-sent TRIGGERS are fine — dynamic overwrite rewrites exactly
  * their own batch partition, the idempotent-replay discipline).
  */
object DupIndex {

  /** Shingle-hash bucket count — the partition-pruning granularity
    * and the LSM file-layout unit, sized like [[LexIndex.NBuckets]].
    * A full-corpus backfill touches all buckets (the join is still
    * against PRECOMPUTED postings — the win is never re-tokenizing
    * the corpus); a small serving trigger's shingles hash into few
    * buckets and the scan prunes to those directories. */
  val NBuckets = 64L

  private def bucket(sh: Column) = pmod(xxhash64(sh), lit(NBuckets))

  private def post(path: String) = s"$path/post"
  private def hotP(path: String) = s"$path/hot"
  private def dfP(path: String) = s"$path/df"

  // explicit read schemas: a healthy natural corpus can have ZERO
  // over-cap shingles, and a zero-row partitioned write leaves
  // nothing for schema inference
  private val hotSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "s STRING, sb BIGINT")
  // per-shingle base document frequency — the hot-gate comparand,
  // persisted at build/compact time (see [[baseDf]])
  private val dfSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "s STRING, df_base BIGINT, sb BIGINT")
  // postings carry BOTH the shingle string and its xxhash64 (`sh`):
  // maintenance (compact's df recount, hotGate) stays exact on
  // strings, while the hot path — the per-trigger probe join — keys
  // on the 8-byte hash and column pruning never decodes `s` at all.
  // The r12 x300 profile read the string-keyed probe at 10-12
  // s/trigger with the raw scan only ~1 s: the cost was hashing and
  // comparing ~40-char shingle strings across the 71M-row posting
  // stream, and the hashed join cut the full verdict pipeline to
  // ~3 s. Collision caveat: two DIFFERENT shingles sharing an
  // xxhash64 would overcount one shared-shingle pair by one — p ≈
  // (posting rows × trigger shingles)/2^64 ≈ 4e-6 per x300 trigger,
  // the same identity assumption q42's MinHash signatures already
  // make; the strings at rest keep rebuild/compaction exact.
  private val postSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "s STRING, sh BIGINT, doc_id BIGINT, n BIGINT, sb BIGINT")
  // delta layout adds the batch partition column; the explicit schema
  // also covers the existing-but-empty delta dir an all-dup first
  // trigger leaves behind (only _SUCCESS — nothing to infer from)
  private val deltaSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "s STRING, sh BIGINT, doc_id BIGINT, n BIGINT, batch BIGINT, sb BIGINT")

  /** The one current root layout: every root [[writeFrom]] or
    * [[compact]] writes carries `df/` (r13) and postings with the
    * stored `sh` (r12). An older root is rejected, not healed — by
    * the LSM rule a delta is never older than its base, so this one
    * check on the base covers its delta too. */
  private def requireCurrent(s: SparkSession, basePath: String): Unit =
    require(Sources.exists(s, dfP(basePath)),
      s"DupIndex root $basePath has no df/ artifact: it predates the current " +
        "layout (stored sh + df/); rebuild it with DupIndex.writeFrom")

  private def readHot(s: SparkSession, basePath: String): DataFrame =
    s.read.schema(hotSchema).parquet(hotP(basePath)).select("s")

  /** The batch's df-capped shingle frame (doc_id, s): tokenize +
    * shingle, anti-joined with the base's FROZEN hot list. [[probe]]
    * and [[appendDelta]] each start here; a caller driving both over
    * the same batch (the streaming admission face) computes it ONCE,
    * localCheckpoints it, and passes it as their `preCapped` — the
    * tokenize is the trigger's largest CPU term and was paid 2-3x
    * per trigger before r13. Contract: `preCapped` must be exactly
    * this frame for the same (batch, basePath) pair. */
  def cappedShingles(s: SparkSession, basePath: String,
      batch: DataFrame): DataFrame =
    Dedup.shingledOf(batch)
      .join(readHot(s, basePath), Seq("s"), "left_anti")

  /** Tokenize + shingle + df-cap + write the bucket-partitioned
    * postings and the frozen hot list. `n` is recounted AFTER the
    * cap (a doc's capped set size == its posting count — the
    * invariant [[compact]]'s rebuild-equivalence rests on). */
  def write(s: SparkSession, dir: String, path: String): Unit =
    writeFrom(s, graft.Tables(s, dir, "documents"), path)

  /** [[write]] over any (doc_id, text) frame — specs build bases
    * from corpus subsets to exercise the delta path. */
  def writeFrom(s: SparkSession, docs: DataFrame, path: String): Unit = {
    // the corpus tokenize+shingle subtree has three consumers (hot
    // agg, anti-join, and the hot-list write's own lineage) — ONE
    // checkpoint, or a 100 TB base build scans the corpus thrice.
    // SERIALIZED blocks: corpus-token-sized (the r11 x300 OOM class)
    val sh = Dedup.shingledOf(docs).localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val hot = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.DfCap).select("s")
      .localCheckpoint(false) // tiny; 2 consumers: anti join + write
    writePostings(sh.join(hot, Seq("s"), "left_anti"), path)
    hot.withColumn("sb", bucket(col("s")))
      .write.mode(SaveMode.Overwrite).partitionBy("sb").parquet(hotP(path))
  }

  /** Attach per-doc capped sizes + bucket column and write `kept`
    * (doc_id, s) as sb-partitioned postings under `root/post`, plus
    * the per-shingle base-df ARTIFACT under `root/df` — the hot-gate
    * comparand is static between compactions, so it is index STATE,
    * not a per-sink recomputation (at x300 the lazy-plan version
    * cost every sink start a ~20-30 s base-postings aggregation on
    * first gate use). */
  private def writePostings(kept: DataFrame, root: String): Unit = {
    val k = kept.localCheckpoint(false, // 3 consumers: sizes, rows, df
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sz = k.groupBy("doc_id").agg(count(lit(1)).as("n"))
    k.join(sz, "doc_id")
      .withColumn("sh", xxhash64(col("s")))
      .withColumn("sb", pmod(col("sh"), lit(NBuckets)))
      .select("sb", "s", "sh", "doc_id", "n")
      .write.mode(SaveMode.Overwrite).partitionBy("sb").parquet(post(root))
    k.groupBy("s").agg(count(lit(1)).as("df_base"))
      .withColumn("sb", bucket(col("s")))
      .select("sb", "s", "df_base")
      .write.mode(SaveMode.Overwrite).partitionBy("sb").parquet(dfP(root))
  }

  /** DELTA APPEND — a crawl increment lands capped against the
    * FROZEN hot list under `deltaPath/batch=<id>/sb=<b>/` via
    * dynamic overwrite (a replayed trigger rewrites exactly its own
    * batch partition). `n` is the batch-doc's frozen-cap set size —
    * exact by hot monotonicity, see the object doc.
    *
    * Returns the batch's BUCKET FOOTPRINT (distinct `sb`, sorted) —
    * computed from the kept frame the write itself consumed, so the
    * streaming face scopes its hot gate without re-listing and
    * re-scanning the just-written partition. The write
    * repartitions by `sb` (r13): the join output otherwise lands as
    * one file per (task × touched bucket) ≈ shuffle-width × NBuckets
    * small files PER TRIGGER, and every later probe/gate pays that
    * listing; hashed on the 64 bucket values each directory gets
    * exactly one file. */
  def appendDelta(s: SparkSession, basePath: String, deltaPath: String,
      batch: DataFrame, batchId: Long,
      preCapped: Option[DataFrame] = None): Seq[Long] = {
    val kept = preCapped.map(
        // the streaming face already holds the TRIGGER's capped
        // shingles — restrict to this append's (novel) doc ids
        // instead of re-tokenizing them (see [[cappedShingles]])
        _.join(batch.select("doc_id"), Seq("doc_id"), "left_semi"))
      .getOrElse(cappedShingles(s, basePath, batch))
      .localCheckpoint(false) // 2 consumers: sizes, rows
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // footprint rides the write itself as an Observation (the q180
    // ledger rule: every separate action is ~0.5 s of job
    // scheduling per trigger) — collect_set over ≤ NBuckets values,
    // driver-bounded by construction
    val obs = new org.apache.spark.sql.Observation()
    Sources.overwriteBatch(kept.join(sz, "doc_id")
      .withColumn("sh", xxhash64(col("s")))
      .withColumn("sb", pmod(col("sh"), lit(NBuckets)))
      .withColumn("batch", lit(batchId))
      .select("batch", "sb", "s", "sh", "doc_id", "n")
      .repartition(NBuckets.toInt, col("sb"))
      .observe(obs, collect_set(col("sb")).as("sbs")), deltaPath, Seq("batch", "sb"))
    obs.get("sbs").asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted
  }

  /** Resident postings of base (+ delta when present — a base no
    * trigger has appended to has none yet). `sbs` is
    * the probe batch's shingle-bucket set (≤ [[NBuckets]] values,
    * driver-bounded): `sb.isin` is a PARTITION filter on both roots,
    * so a bucket-sparse trigger reads only its own directories.
    * `excludeBatch` drops one delta `batch=` partition — the
    * streaming admission face probes a replayed trigger against the
    * state BEFORE its own (already-written) delta partition, or the
    * replay would surface intra-trigger pairs the first run never
    * saw ([[graft.streaming.AdmitStream]]). */
  private def residents(s: SparkSession, basePath: String,
      deltaPath: Option[String], sbs: Seq[Long],
      excludeBatch: Option[Long]): DataFrame = {
    requireCurrent(s, basePath)
    val base = s.read.schema(postSchema).parquet(post(basePath))
      .filter(col("sb").isin(sbs: _*))
      .select("sb", "s", "sh", "doc_id", "n")
    deltaPath.filter(Sources.exists(s, _)) match {
      case Some(p) =>
        val d0 = s.read.schema(deltaSchema).parquet(p)
          .filter(col("sb").isin(sbs: _*))
        val d = excludeBatch.map(b => d0.filter(col("batch") =!= lit(b)))
          .getOrElse(d0)
        base.unionByName(d.select("sb", "s", "sh", "doc_id", "n"))
      case None => base
    }
  }

  /** Probe: per batch document, the q138 verdict against the index
    * residents — `dup_of_corpus` (a resident partner at Jaccard ≥
    * JaccThr; partner = min qualifying doc_id with its exact
    * Jaccard, q138's rule) or `novel`. In-batch (intra-trigger)
    * duplicates are the stream guards' and q40's job — this face
    * answers only new-vs-corpus, the admission question.
    *
    * Scale shape: the batch's shingles cap against the frozen hot
    * list, then ONE equi-join against the at-rest postings (shared
    * shingles fan out ≤ DfCap — the same bound as the batch family;
    * no corpus re-tokenize, no corpus², and the sb layout prunes the
    * scan for bucket-sparse triggers); verdict selection is one
    * aggregate, no self-rejoin. The probe join keys on the posting
    * HASH column (see the postSchema note: strings stay at rest for
    * exact maintenance; the per-trigger join neither decodes nor
    * compares them — measured 3.5x on x300 triggers, r12). */
  def probe(s: SparkSession, basePath: String, batch: DataFrame,
      deltaPath: Option[String] = None,
      excludeBatch: Option[Long] = None,
      dropKeys: Option[DataFrame] = None,
      preCapped: Option[DataFrame] = None): DataFrame = {
    // the trigger side caps against the frozen hot list on STRINGS
    // (exact, small read), then carries only the hash — the probe
    // join never touches a shingle string again and the posting scan
    // prunes the `s` column entirely (see postSchema).
    // `preCapped`: the caller already computed [[cappedShingles]] for
    // this batch against this base (the streaming face checkpoints
    // ONE copy per trigger and feeds probe + appendDelta + the gate's
    // sample re-probe — r13: the trigger was tokenized 2-3x before)
    val bsh0 = preCapped.getOrElse(cappedShingles(s, basePath, batch))
      .select(col("doc_id").as("new_id"), xxhash64(col("s")).as("sh"))
    // `dropKeys` (a one-column `sh` frame, [[newlyHotKeys]]): the
    // admit-sensitivity COUNTERFACTUAL — the verdict as if the
    // accumulated newly-hot template keys had been capped out. The
    // anti-join removes them from the trigger's sets (numerator c and
    // denominator n_new both shrink); resident set sizes stay at-rest
    // (n_old ≥ the rebuilt n_old'), so the counterfactual Jaccard is
    // a LOWER bound of the post-compaction one: a dup verdict here is
    // certainly still dup after compaction, and a dup→novel flip
    // marks a template-SENSITIVE admission — the drift statistic
    // [[graft.streaming.AdmitStream]] samples, conservative in the
    // direction that triggers maintenance.
    val bsh = dropKeys.fold(bsh0)(k => bsh0.join(k, Seq("sh"), "left_anti"))
      .localCheckpoint(false) // 3 consumers: sizes + buckets + join
    // the trigger's bucket footprint: ≤ NBuckets longs, the partition
    // pruning set (the LexIndex tbs idiom — NEVER the shingles
    // themselves, which are corpus-sized on a backfill batch)
    val sbs = bsh.select(pmod(col("sh"), lit(NBuckets)).as("sb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val nNew = bsh.groupBy("new_id").agg(count(lit(1)).as("n_new"))
    val cand = bsh.join(
        residents(s, basePath, deltaPath, sbs, excludeBatch)
          .select("sh", "doc_id", "n"), "sh")
      .filter(col("new_id") =!= col("doc_id")) // replayed batch vs its own delta rows
      .groupBy(col("new_id"), col("doc_id"))
      .agg(count(lit(1)).as("c"), max("n").as("n_old"))
      .join(nNew, "new_id")
      .withColumn("jr", col("c") * lit(1.0) / (col("n_new") + col("n_old") - col("c")))
      .filter(col("jr") >= Dedup.JaccThr.toDouble)
    val verdicts = cand.groupBy("new_id").agg(
      min("doc_id").as("partner"),
      expr("min_by(jr, doc_id)").as("j"))
    batch.select(col("doc_id"))
      .join(verdicts, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"),
        when(col("partner").isNotNull, "dup_of_corpus").otherwise("novel").as("verdict"),
        col("partner").as("partner_id"),
        ops.r6(col("j")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** HOT-DRIFT GATE — compact-vs-keep-appending decided from
    * MEASURED drift (the refitGate / coverageGate analog): per
    * delta shingle, the UNION document frequency (delta occurrences
    * + base occurrences of the same shingle) against the cap — a
    * template that went hot after base build match-multiplies every
    * future probe on its key (the stream-shaped q44 quadratic the
    * DedupStream candidate budget guards against per trigger, here
    * accumulated at rest). Every delta shingle is non-hot at base
    * by construction (delta capping is against the frozen hot
    * list), so union df > cap is EXACTLY "crossed the cap after
    * base build" — counting delta-side df alone would blind the
    * gate to a template sitting just under the cap at build (base
    * 990 + delta 900 is hot at 1890 yet each side is under 1000).
    * The base side is the PRECOMPUTED [[baseDf]] frame — static
    * between compactions, so a long-lived sink prices it once
    * (IngestStream's idxStats discipline) instead of re-aggregating
    * the base postings per trigger; pass None for the delta-local
    * statistic. Emits the decision row: newly-hot count, worst
    * union df, and the pair mass Σ df·(df−1)/2 those keys would
    * inject into a probe.
    *
    * `sbs` scopes the gate to a bucket subset (a PARTITION filter on
    * the delta root): the streaming face passes its trigger's own
    * delta-partition footprint, so per-trigger gate cost tracks the
    * trigger's bucket slice instead of the whole accumulated delta
    * (the r8 ADVICE fix — the full sweep stayed linear in time since
    * the last compaction even for tiny triggers). Scoped detection
    * is still complete ACROSS triggers: a shingle crosses the cap
    * only on a trigger that appends rows to it, and that trigger's
    * footprint contains its bucket — so every crossing trips the
    * gate of the trigger that caused it, and a maintenance sweep
    * (`sbs = None`, [[graft.sources.Maintenance]]) needs no
    * re-detection, only the logged verdicts. `n_delta_rows` prices
    * the aggregation itself, so operators can tie compaction cadence
    * to measured gate cost. */
  /** Per-delta-shingle UNION document frequency (sb, s, df_delta, df)
    * — the shared core of [[hotGate]] (aggregated verdict) and
    * [[newlyHotKeys]] (the key set itself). */
  private def unionDf(s: SparkSession, deltaPath: String,
      baseDfPre: Option[DataFrame], sbs: Option[Seq[Long]]): DataFrame = {
    val scan0 = s.read.schema(deltaSchema).parquet(deltaPath)
    val scan = sbs.fold(scan0)(bs => scan0.filter(col("sb").isin(bs: _*)))
    val ddf = scan
      .groupBy("sb", "s").agg(count(lit(1)).as("df_delta"))
    baseDfPre match {
      case Some(bdf) =>
        ddf.join(bdf, Seq("sb", "s"), "left")
          .withColumn("df", col("df_delta") + coalesce(col("df_base"), lit(0L)))
      case None => ddf.withColumn("df", col("df_delta"))
    }
  }

  /** The accumulated NEWLY-HOT shingle keys (union df > cap) as a
    * one-column `sh` hash frame — the template class [[hotGate]]
    * counts, shaped for [[probe]]'s `dropKeys` anti-join (the
    * admit-sensitivity gate, [[graft.streaming.AdmitStream]]).
    * Bounded: ≤ the delta's distinct shingles, in practice the few
    * templates that crossed the cap since the last compaction. */
  def newlyHotKeys(s: SparkSession, deltaPath: String,
      baseDfPre: Option[DataFrame] = None,
      sbs: Option[Seq[Long]] = None): DataFrame =
    unionDf(s, deltaPath, baseDfPre, sbs)
      .filter(col("df") > Dedup.DfCap)
      .select(xxhash64(col("s")).as("sh"))

  def hotGate(s: SparkSession, deltaPath: String,
      baseDfPre: Option[DataFrame] = None,
      sbs: Option[Seq[Long]] = None): DataFrame = {
    unionDf(s, deltaPath, baseDfPre, sbs)
      .agg(count(lit(1)).as("n_delta_shingles"),
        // the gate's own measured cost driver: delta posting rows
        // aggregated this sweep (scoped sweeps report their slice)
        coalesce(sum(col("df_delta")), lit(0L)).as("n_delta_rows"),
        // coalesced: an EMPTY delta (all-dup triggers so far) must
        // read as a clean gate row, not a null the caller NPEs on
        coalesce(sum(when(col("df") > Dedup.DfCap, 1L).otherwise(0L)), lit(0L))
          .as("n_newly_hot"),
        coalesce(max("df"), lit(0L)).as("max_df"),
        // pair mass through DECIMAL: df is cap-unbounded here by
        // definition of the statistic (the q142 wrap rule)
        coalesce(sum((col("df").cast("decimal(38,0)") * (col("df") - lit(1))) / lit(2)),
          lit(0).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("cand_mass"))
      .withColumn("rebuild", col("n_newly_hot") > 0L)
  }

  /** Per-shingle BASE document frequency (sb, s, df_base) — the
    * [[hotGate]] comparand. Static between compactions: roots
    * persist it as the `df/` artifact at build/compact time, so this
    * is a cheap scan instead of the ~20-30 s postings aggregation
    * (x300). Checkpointed: the frame is joined per trigger, and
    * re-scanning the 9M-row artifact each time measured 1-2 s/trigger
    * slower than the materialized read. */
  def baseDf(s: SparkSession, basePath: String): DataFrame = {
    requireCurrent(s, basePath)
    s.read.schema(dfSchema).parquet(dfP(basePath))
      .select("sb", "s", "df_base").localCheckpoint(false)
  }

  /** COMPACTION — fold the delta into a fresh base at `outPath`,
    * re-applying the df cap over the UNION: recount df, drop the
    * newly-hot shingles, recount per-doc sizes from the surviving
    * postings, and merge the hot lists. By df monotonicity
    * (hot_base ⊆ hot_union) this is IDENTICAL to [[writeFrom]] over
    * the union corpus — SourcesSpec asserts postings and hot-list
    * equality row-for-row, so the LSM fold provably loses nothing
    * and the serving tier can swap roots blind. */
  def compact(s: SparkSession, basePath: String, deltaPath: String,
      outPath: String): Unit = {
    val all = residents(s, basePath, Some(deltaPath),
        (0L until NBuckets).toSeq, excludeBatch = None)
      .select("s", "doc_id").localCheckpoint(false) // 3 consumers below
    val newlyHot = all.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > Dedup.DfCap).select("s")
    writePostings(all.join(newlyHot, Seq("s"), "left_anti"), outPath)
    readHot(s, basePath)
      .unionByName(newlyHot)
      .withColumn("sb", bucket(col("s")))
      .write.mode(SaveMode.Overwrite).partitionBy("sb").parquet(hotP(outPath))
  }
}
