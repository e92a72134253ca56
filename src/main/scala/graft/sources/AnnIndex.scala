package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN index (§2.H meets §2.E): the IVF cell structure
  * written as CELL-PARTITIONED parquet, so Spark's own partition
  * pruning IS the index probe — `cid IN (probed cells)` reads only
  * nprobe directories of the 100 TB corpus and every other cell
  * never leaves disk. This is the at-rest form of q52: the in-memory
  * operator re-fits and rescans per session, while a real serving
  * path builds the index once and probes it many times.
  *
  * Index layout: `path/cid=<c>/…` holding (vec_id, ed float[],
  * nrm double); metadata = the k×dim centroid array, small enough
  * (k ≈ √n) for the driver/serving tier to hold. Probe = driver
  * argmin over centroids (bounded query contract, q50/q52's rule) →
  * partition-pruned scan → codegen'd exact cosine → bounded TopK
  * aggregate. No shuffle anywhere in the probe path: candidates are
  * map-scored against the broadcast query cells and ranked by the
  * k-bounded aggregate.
  *
  * SourcesSpec proves: (a) probe-from-disk returns EXACTLY q52's
  * result rows (same deterministic fit, same probe rule); (b) the
  * scan plans a non-empty PartitionFilters on cid — the pruning that
  * makes the directory an index.
  */
object AnnIndex {

  /** Fit (deterministic Lloyd, shared with q52) + write the
    * cell-partitioned index; returns the centroid metadata. */
  def write(s: SparkSession, dir: String, path: String): Array[Array[Double]] =
    writeFrom(s, graft.Tables(s, dir, "embeddings"), path)

  /** [[write]] over any (vec_id, embedding) frame — the REBUILD face
    * ([[Maintenance]] refits over base + delta + quarantine after a
    * gate trip; specs build bases from corpus subsets). `cellSize`
    * overrides the √n default with a target residents-per-cell — the
    * knob a deployment sizes cells with (cell bytes vs executor
    * memory, probe fan-out vs recall), passed through to the fit's
    * mode dispatch. */
  def writeFrom(s: SparkSession, emb: DataFrame, path: String,
      cellSize: Option[Int] = None): Array[Array[Double]] = {
    val (cells, cents) = graft.operators.Similarity.ivfCellsOf(s, emb, cellSize)
    cells.select("vec_id", "ed", "nrm", "cid")
      .write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(path)
    cents
  }

  /** FILTERED (hybrid) probe: top-k among index residents satisfying
    * a metadata predicate — "nearest neighbors WHERE label = 3", the
    * filtered-vector-search shape serving stacks need. The predicate
    * is applied pre-scoring INSIDE the pruned scan (`meta` joined on
    * vec_id before the cosine, so Catalyst pushes its filters into
    * the scan/join, never post-ranking — post-filtering top-k would
    * silently return < k or biased results). Recall caveat is the
    * standard one: probing nprobe cells of the FILTERED corpus may
    * need a larger nprobe when the predicate is very selective; the
    * spec measures recall vs the exact filtered brute force. */
  def probeWhere(s: SparkSession, path: String, cents: Array[Array[Double]],
      queries: Array[(Long, Array[Float])], nprobe: Int, k: Int,
      meta: DataFrame, predicate: org.apache.spark.sql.Column): DataFrame =
    rank(s,
      scored(s, path, cents, queries, nprobe)
        .join(meta.filter(predicate).select("vec_id"), "vec_id"), k)

  /** Probe the persisted index: top-k exact-cosine neighbors per
    * query among the nprobe nearest cells' residents. `queries` is
    * driver-bounded by contract (the q50/q52 query rule). */
  def probe(s: SparkSession, path: String, cents: Array[Array[Double]],
      queries: Array[(Long, Array[Float])], nprobe: Int, k: Int): DataFrame =
    rank(s, scored(s, path, cents, queries, nprobe), k)

  /** DELTA APPEND — the idempotent form of [[append]] for streaming
    * ingestion (LSM discipline: base + delta, folded by
    * [[compactDelta]]): the batch lands under
    * `delta/batch=<id>/cid=<c>/` via DYNAMIC overwrite, so a
    * replayed trigger rewrites exactly its own batch partition and
    * the index can never double-count a crashed commit (plain
    * [[append]] into shared cid dirs is at-least-once — fine for a
    * one-shot maintenance job, wrong for a stream). */
  def appendDelta(s: SparkSession, deltaPath: String, cents: Array[Array[Double]],
      batch: DataFrame, batchId: Long): Unit =
    Sources.overwriteBatch(graft.operators.Similarity.assignCells(s, batch, cents)
      .select("vec_id", "ed", "nrm", "cid")
      .withColumn("batch", lit(batchId)), deltaPath, Seq("batch", "cid"))

  /** Probe base + delta together: both roots prune on cid (the
    * delta's batch dirs enumerate, then cid prunes within each), so
    * probe cost stays O(queries × nprobe × cell) with a small
    * per-batch directory overhead that [[compactDelta]] reclaims. */
  def probeWithDelta(s: SparkSession, basePath: String, deltaPath: String,
      cents: Array[Array[Double]], queries: Array[(Long, Array[Float])],
      nprobe: Int, k: Int): DataFrame =
    rank(s, scoredOver(s, residents(s, basePath, Some(deltaPath)),
      cents, queries, nprobe), k)

  /** Fold the delta into a fresh base (written to `outPath`, cid-
    * partitioned like [[write]]'s layout) — the compaction that
    * bounds delta directory count; the serving tier swaps roots and
    * truncates the delta. Probe-equivalence is spec'd row-for-row. */
  def compactDelta(s: SparkSession, basePath: String, deltaPath: String,
      outPath: String): Unit =
    residents(s, basePath, Some(deltaPath))
      .write.mode(SaveMode.Overwrite).partitionBy("cid").parquet(outPath)

  /** Resident rows of base (+ optional delta, batch column dropped). */
  private def residents(s: SparkSession, basePath: String,
      deltaPath: Option[String]): DataFrame = {
    val base = s.read.parquet(basePath).select("vec_id", "ed", "nrm", "cid")
    deltaPath.filter(Sources.exists(s, _)) match {
      case Some(p) => base.union(s.read.parquet(p).select("vec_id", "ed", "nrm", "cid"))
      case None => base
    }
  }

  /** Exact micro-unit quantization-error moment of a vector frame
    * under the frozen centroids: (Σ err_u, n), collected once.
    * Streaming ingestion precomputes the INDEX side at sink start —
    * it is constant between compactions — instead of rescanning
    * residents every trigger the way the one-shot [[refitGate]]
    * does. */
  private[graft] def errStatsU(s: SparkSession, frame: DataFrame,
      cents: Array[Array[Double]]): (Long, Long) = {
    val r = graft.operators.Similarity.quantErrU(s, frame, cents)
      .agg(sum("err_u").as("e"), count(lit(1)).as("n")).collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Shared probe core: partition-pruned scan joined to the
    * broadcast query/cell pairs, exact cosine per candidate. */
  private def scored(s: SparkSession, path: String, cents: Array[Array[Double]],
      queries: Array[(Long, Array[Float])], nprobe: Int): DataFrame =
    scoredOver(s, residents(s, path, None), cents, queries, nprobe)

  private def scoredOver(s: SparkSession, res: DataFrame,
      cents: Array[Array[Double]], queries: Array[(Long, Array[Float])],
      nprobe: Int): DataFrame = {
    import s.implicits._
    import graft.functions.VectorOps.{dot, dotp, nearest, norms2}
    val cn2 = norms2(cents)
    val probes = queries.sortBy(_._1).flatMap { case (qid, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      nearest(qv, cents, cn2, nprobe).map(c => (qid, qv.toSeq, qn, c))
    }.toSeq.toDF("query_id", "qe", "qn", "cid")
    val cids = probes.select("cid").as[Int].collect().distinct.toSeq
    // the isin filter is a PARTITION filter on the cid directory
    // column of every resident root: only probed cells are listed,
    // opened, or read
    res
      .filter(col("cid").isin(cids: _*))
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        graft.operators.ops.r6(dotp(col("qe"), col("ed")) / (col("qn") * col("nrm"))))
  }

  /** Refit threshold for [[refitGate]]: a batch whose mean squared
    * quantization error exceeds this multiple of the index residents'
    * own mean error has drifted off the frozen quantizer's geometry —
    * append would degrade probe recall, so the gate says rebuild. */
  val RefitRatio = 2.0

  /** RefitRatio as an EXACT rational (RefitNum / RefitDen), so the
    * gate's cross-multiply never leaves integer/DECIMAL arithmetic:
    * a double product rounds half-ulp above 2^53 (Σerr_u·n reaches
    * ~1e26 at corpus scale), and the one place the repo's numerics
    * doctrine is strictest should practice it. Both the batch gate
    * here and the streaming gate (IngestStream) compare through
    * [[refitCmp]], so the two documented-as-mirrored gates cannot
    * disagree on boundary batches. */
  private[graft] val RefitDen = 10L
  private[graft] val RefitNum = math.round(RefitRatio * RefitDen) // 20

  /** The gate's decision column: e_batch·n_index·RefitDen >
    * RefitNum·e_index·n_batch, every operand DECIMAL(38,0) — exact
    * at any magnitude the moments can reach (≲1e28 ≪ 1e38). Shared
    * by [[refitGate]] and the streaming gate; boundary behavior
    * (equality at exactly RefitRatio → NO refit) is spec-pinned. */
  private[graft] def refitCmp(eB: org.apache.spark.sql.Column, nB: org.apache.spark.sql.Column,
      eI: org.apache.spark.sql.Column, nI: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    eB.cast("decimal(38,0)") * nI.cast("decimal(38,0)") * lit(RefitDen) >
      lit(RefitNum) * eI.cast("decimal(38,0)") * nB.cast("decimal(38,0)")

  /** Scalar twin of [[refitCmp]] for the driver-side streaming gate
    * (IngestStream holds its moments as longs): the SAME rational —
    * exact BigInt cross-multiply over RefitNum/RefitDen — so the two
    * gates agree on every batch including the boundary. */
  private[graft] def refitExceeds(eB: Long, nB: Long, eI: Long, nI: Long): Boolean =
    BigInt(eB) * BigInt(nI) * BigInt(RefitDen) > BigInt(RefitNum) * BigInt(eI) * BigInt(nB)

  /** INCREMENTAL APPEND — the daily-batch maintenance path (q138's
    * sibling on the ANN side): new vectors are assigned to cells
    * against the FROZEN quantizer (map-only vs the broadcast centroid
    * matrix — [[graft.operators.Similarity.assignCells]], the same
    * argmin as the fit's own final assignment) and the write APPENDS
    * files inside the existing `cid=` directories. No refit, no
    * shuffle, no rewrite of resident cells; probes see the new rows
    * immediately because partition pruning is directory-based. At
    * 100 TB this turns index maintenance from an O(corpus) rebuild
    * into an O(batch) map pass — the gate below decides when the
    * rebuild IS warranted. */
  def append(s: SparkSession, path: String, cents: Array[Array[Double]],
      batch: DataFrame): Unit =
    graft.operators.Similarity.assignCells(s, batch, cents)
      .select("vec_id", "ed", "nrm", "cid")
      .write.mode(SaveMode.Append).partitionBy("cid").parquet(path)

  /** REFIT GATE — append-vs-rebuild decided from MEASURED geometry,
    * not a calendar: compares the batch's mean squared quantization
    * error under the frozen centroids against the index residents'
    * own mean error (both as exact micro-unit integer sums — no
    * order-dependent double accumulation in a number a human reads).
    * Same-distribution batch → ratio ≈ 1 → append; drifted batch
    * (new domain, new embedding model) → ratio ≫ 1 → rebuild. One
    * map pass over each frame; the comparison is two 1-row frames. */
  def refitGate(s: SparkSession, path: String, cents: Array[Array[Double]],
      batch: DataFrame): DataFrame = {
    import graft.operators.Similarity.quantErrU
    def mse(df: DataFrame, tag: String): DataFrame =
      quantErrU(s, df, cents)
        .agg(count(lit(1)).as(s"n_$tag"), sum("err_u").as(s"e_$tag"))
    val idx = s.read.parquet(path).select(col("vec_id"), col("ed").as("embedding"))
    mse(batch, "batch").join(broadcast(mse(idx, "index")), lit(true), "left")
      .select(
        col("n_batch"), col("n_index"),
        (col("e_batch") / col("n_batch") / lit(1000000.0)).as("batch_mse"),
        (col("e_index") / col("n_index") / lit(1000000.0)).as("index_mse"),
        // cross-multiplied: no division by a possibly-zero resident
        // error (a degenerate k=n index quantizes exactly); all
        // DECIMAL(38,0) via refitCmp because Σerr_u × n wraps a long
        // at corpus scale (the q142 overflow class) and a double
        // comparison rounds above 2^53
        refitCmp(col("e_batch"), col("n_batch"), col("e_index"), col("n_index"))
          .as("refit"))
  }

  /** recallGate default floor: recall@k below 0.6 on sampled
    * traffic means the quantizer no longer places neighbors where
    * the probe looks — rebuild. */
  val RecallFloorPpm = 600000L

  /** Hard bound on the query sample any recall measurement accepts:
    * both probes collect every (query, k) pair to the driver, so an
    * unbounded caller would turn the gate into a driver-memory
    * hazard. 512 queries × 2 probes × k rows is a few MB at any k a
    * serving tier uses — enforced, not just documented. */
  val QueryMax = 512

  /** The ONE recall@k computation (serving nprobe vs exact = all
    * cells, same scorer) — shared by [[recallGate]] (micro hits /
    * denom for the integer-ppm gate) and the drift harness's
    * macro-averaged report (the drift scenario of [[graft.Scenario]]),
    * so the two recall definitions cannot drift apart.
    * Returns (hits, denom, macroMean); every probe returns exactly
    * k rows per query, so micro == macro whenever no query's exact
    * set is empty. */
  private[graft] def recallStats(s: SparkSession, basePath: String,
      deltaPath: Option[String], cents: Array[Array[Double]],
      queries: Array[(Long, Array[Float])], nprobe: Int, k: Int): (Long, Long, Double) = {
    require(queries.length <= QueryMax,
      s"recall sample ${queries.length} exceeds QueryMax=$QueryMax — both probes " +
        "collect to the driver; sample the traffic, don't stream it through the gate")
    def top(np: Int): Map[Long, Set[Long]] = {
      val df = deltaPath match {
        case Some(d) => probeWithDelta(s, basePath, d, cents, queries, np, k)
        case None => probe(s, basePath, cents, queries, np, k)
      }
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    val approx = top(nprobe)
    val exact = top(cents.length)
    val hits = exact.iterator.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty[Long]).count(ex).toLong }.sum
    val denom = exact.valuesIterator.map(_.size.toLong).sum
    val byQ = exact.map { case (q, ex) =>
      if (ex.isEmpty) 1.0
      else approx.getOrElse(q, Set.empty[Long]).count(ex).toDouble / ex.size }
    (hits, denom, if (byQ.isEmpty) 1.0 else byQ.sum / byQ.size)
  }

  /** SAMPLED-RECALL GATE — the serving-quality monitor [[refitGate]]
    * is not (the r11 drift measurement, SURVEY §4.2): MASS drift —
    * the corpus's cluster structure dissolving in place — erodes
    * serving recall to ~0.40 before the 2× geometry ratio trips,
    * because mean quantization error moves slowly while neighbor
    * placement scatters. This gate measures what a tier actually
    * serves: recall@k of the nprobe probe against the exact probe
    * (nprobe = all cells — the same scorer, zero approximation)
    * over a bounded query sample (the QueryMax rule; sampled per
    * maintenance sweep, not per trigger). Every probe returns
    * exactly k rows per query, so the micro ratio equals the
    * per-query mean; hits/denominator sum as longs and the ppm is
    * one BigInt cross-multiply (the q142 rule). `refit` is strict:
    * recall_ppm < floorPpm. */
  def recallGate(s: SparkSession, basePath: String, deltaPath: Option[String],
      cents: Array[Array[Double]], queries: Array[(Long, Array[Float])],
      nprobe: Int, k: Int, floorPpm: Long = RecallFloorPpm): DataFrame = {
    import s.implicits._
    val (hits, denom, _) = recallStats(s, basePath, deltaPath, cents, queries, nprobe, k)
    val ppm = recallPpm(hits, denom)
    Seq((queries.length.toLong, denom, hits, ppm, ppm < floorPpm))
      .toDF("n_queries", "n_exact", "n_hit", "recall_ppm", "refit")
  }

  /** Micro recall as integer ppm (the q142 rule — one BigInt divide,
    * no double ratio a gate compares). Empty denominator (no exact
    * neighbors at all — an empty index) reads as full recall: there
    * was nothing to miss. Shared by [[recallGate]] and the streaming
    * gate ([[graft.streaming.IngestStream]]). */
  private[graft] def recallPpm(hits: Long, denom: Long): Long =
    if (denom == 0L) 1000000L
    else (BigInt(hits) * 1000000 / BigInt(denom)).toLong

  /** Bounded TopK ranking of a scored candidate frame. */
  private def rank(s: SparkSession, cand: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopK
    cand
      .groupBy("query_id")
      .agg(TopK.topk(k)(col("cosine"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("col.score").as("cosine"))
      .orderBy("query_id", "rank")
  }
}
