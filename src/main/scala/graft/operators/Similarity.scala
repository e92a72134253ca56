package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embedding column (SURVEY §2.E).
  *
  * q50 is the exact brute-force baseline; q51/q52/q53 are the three
  * standard ANN scale paths — binary quantization (hamming pre-rank
  * over compact hyperplane signatures), IVF (coarse-quantizer
  * cells), and product quantization (8-byte codes scored via ADC
  * lookup tables) — each verified against q50 by a recall spec; q54
  * generalizes to the all-corpus kNN graph, where the query set is
  * the corpus itself and nothing corpus-sized may collect.
  *
  * All of them share one ranking primitive: a bounded per-partition
  * top-k aggregate ([[graft.functions.TopKAgg]]). A
  * `row_number().over(Window.partitionBy(query_id))` would shuffle
  * every scored row into #queries partitions — parallelism equal to
  * the query count, an all-data exchange at corpus scale. The
  * aggregate keeps k rows per (query × partition) map-side and
  * merges k-bounded state, so ranking cost is independent of the
  * corpus row count.
  */
object Similarity {

  import graft.functions.TopK
  import graft.functions.VectorOps.{dot, dotp, l2norm, nearest, norms2}

  /** Query-set contract shared by q50/q51/q52: vec_id < QueryMax.
    * The query side is bounded (broadcast/collect-safe) by design;
    * the CORPUS side is the thing that scales and never collects. */
  private val QueryMax = 20

  /** embedding (float[]) plus L2 norm; dot/norm via the codegen'd
    * [[graft.functions.DotProduct]] (same IEEE result as the HOF
    * form — float widened per element, sequential double sum). */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("ed", col("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))

  /** Exact top-5 per query over (query_id, neighbor_id, cosine) rows
    * via the bounded aggregate; ties broken by neighbor_id exactly
    * like `ORDER BY cosine DESC, neighbor_id`. */
  private def top5(scored: DataFrame): DataFrame =
    scored.groupBy("query_id")
      .agg(TopK.topk(5)(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("col.score").as("cosine"))
      .orderBy("query_id", "rank")

  /** Brute-force cosine top-5 per query vector: the query set is
    * broadcast against the candidate corpus, which never shuffles —
    * scoring is map-side and ranking is the bounded top-k agg. */
  def q50(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables(s, dir, "embeddings"))
    val q = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("ed").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("ed").as("ce"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", ops.r6(dotp(col("qe"), col("ce")) / (col("qn") * col("cn"))))
      .select("query_id", "neighbor_id", "cosine")
    top5(scored)
  }

  private val q50Sql =
    s"""WITH q AS (SELECT * FROM embeddings WHERE vec_id < $QueryMax),
       p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ${ops.R6("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])")} AS cosine
             FROM q JOIN embeddings c ON c.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id, rank, cosine FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM p)
       WHERE rank <= 5 ORDER BY query_id, rank"""

  /** q51 signature geometry. 512 hyperplane sign bits per vector —
    * a 64-byte binary code (4× smaller than the 256-byte raw
    * embedding) whose hamming distance estimates the angle with
    * σ(θ̂) = π·sqrt(p(1-p)/512) ≈ 0.07 rad.
    *
    * Why not bucketed band-join LSH (the q43/q44 machinery): bucket
    * LSH prunes by EXACT key match, and its enrichment per band is
    * (p/0.5)^bits with p = 1 − θ/π per bit. This corpus's true
    * top-5 neighbors sit near cosine 0.3 (θ ≈ 72°, p ≈ 0.60), so a
    * 20-bit band enriches only 1.2²⁰ ≈ 38× over random — recall 0.9
    * at usable candidate volume needs ~10⁵ bands (≫10⁶ plane dots
    * per vector). No exact-match geometry separates 0.6 from 0.5;
    * graded hamming over a WIDE signature does it with 512 bits.
    * (q43/q44 keep banding because near-DUP thresholds sit at
    * p ≥ 0.8 where a 6-bit band enriches 46× and a handful of bands
    * suffice — different operating point, different geometry.)
    */
  private[graft] val SigBits = 512
  private val SigWords = SigBits / 64

  /** Candidates kept per query before exact rerank. Recall@5 at the
    * test SFs: 0.99 (n=500) / 0.92 (n=2000); candidate fraction
    * CandK/n shrinks as the corpus grows (9.6% → 2.4%). */
  private[graft] val CandK = 48

  private lazy val sigPlanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7331)
    Array.fill(SigBits)(Array.fill(64)(rnd.nextGaussian()))
  }

  private def sigOf(planes: Array[Array[Double]], arr: Array[Float]): Array[Long] = {
    val sig = new Array[Long](SigWords)
    var b = 0
    while (b < SigBits) {
      if (dot(arr, planes(b)) >= 0) sig(b >> 6) |= 1L << (b & 63)
      b += 1
    }
    sig
  }

  /** Binary-quantization ANN: one signature pass over the corpus
    * (mapPartitions, closed-over plane matrix — embarrassingly
    * parallel, no shuffle) scored by −hamming against each query's
    * signature, then [[candidateTail]]. The corpus is touched in
    * full exactly once at 64 B/row compare cost; floats are read
    * only for the CandK×|Q| reranked rows. rows-only —
    * SimilaritySpec asserts recall ≥ 0.9 vs q50. */
  def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables(s, dir, "embeddings"))
    val planes = sigPlanes
    // query signatures: driver-computed from the bounded query set
    val qsigs: Array[(Long, Array[Long])] = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
      .map { case (id, v) => (id, sigOf(planes, v.toArray)) }
    val nq = qsigs.length
    val rows = e.select(col("vec_id"), col("embedding"), col("nrm")).as[(Long, Seq[Float], Double)]
    candidateTail(s, e, qsigs.map(_._1), rows) { () => (r, sc) =>
      val sig = sigOf(planes, r._2.toArray)
      var qi = 0
      while (qi < nq) {
        val qsig = qsigs(qi)._2
        var h = 0
        var w = 0
        while (w < SigWords) { h += java.lang.Long.bitCount(sig(w) ^ qsig(w)); w += 1 }
        sc(qi) = -h.toDouble
        qi += 1
      }
    }
  }

  /** The candidate tail shared by q51 and q53. Each partition keeps,
    * per query, a bounded heap of its CandK best rows by (score desc,
    * id asc) — worst on top, so a beaten worst is dequeued in
    * O(log CandK) and a partition emits ≤ |Q|×CandK rows whatever
    * its size. A k-bounded TopK merge picks the global CandK
    * candidates, and an exact cosine rerank of those (the candidate
    * list is tiny → broadcast; the corpus scan supplying the floats
    * stays map-side) gives the top 5. `scorer` runs once per
    * partition and returns the fill of one score per query for a
    * (vec_id, embedding, nrm) row. */
  private def candidateTail(s: SparkSession, e: DataFrame, qids: Array[Long],
      rows: Dataset[(Long, Seq[Float], Double)])(
      scorer: () => ((Long, Seq[Float], Double), Array[Double]) => Unit): DataFrame = {
    import s.implicits._
    val nq = qids.length
    val cands = rows.mapPartitions { it =>
      val fill = scorer()
      val sc = new Array[Double](nq)
      val heaps = Array.fill(nq)(new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
        Ordering.by { case (x, id) => (-x, id) }))
      it.foreach { r =>
        val id = r._1
        fill(r, sc)
        var qi = 0
        while (qi < nq) {
          if (id != qids(qi)) {
            val x = sc(qi)
            val heap = heaps(qi)
            if (heap.size < CandK) heap.enqueue((x, id))
            else {
              val worst = heap.head
              if (x > worst._1 || (x == worst._1 && id < worst._2)) {
                heap.dequeue(); heap.enqueue((x, id))
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (heap, qi) =>
        heap.iterator.map { case (x, id) => (qids(qi), id, x) }
      }
    }.toDF("query_id", "neighbor_id", "score")
    val topC = cands.groupBy("query_id")
      .agg(TopK.topk(CandK)(col("score"), col("neighbor_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val q = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("ed").as("qe"), col("nrm").as("qn"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("ed").as("ce"), col("nrm").as("cn"))
      .join(broadcast(topC), "neighbor_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine", ops.r6(dotp(col("qe"), col("ce")) / (col("qn") * col("cn"))))
      .select("query_id", "neighbor_id", "cosine")
    top5(scored)
  }

  /** q53 PQ geometry: PqM subspaces × PqK centroids each. 64-dim
    * floats (256 B) compress to PqM 4-bit codes = 8 B/vector — the
    * 32× memory/IO reduction is the whole point of the PQ scale
    * path: at 100 TB of embeddings the code table is ~3 TB and scans
    * 32× faster, with exact rerank touching floats only for the
    * CandK survivors per query. */
  private[graft] val PqM = 16
  private val PqK = 16
  private val PqIters = 10
  /** Codebooks are trained on a bounded deterministic sample (every
    * ceil(n/PqSampleCap)-th vec_id) — the standard PQ practice
    * (codebooks need ~k×1000 points, not the corpus) and the reason
    * training cost is independent of corpus size. */
  private val PqSampleCap = 4096

  /** Driver-side Lloyd on one subspace slice of the sample:
    * deterministic (init from the first PqK subvectors in vec_id
    * order, ties to the lowest centroid, means rounded to 1e-9). */
  private def fitSubCodebook(sub: Array[Array[Float]]): Array[Array[Double]] = {
    val d = sub.head.length
    var cents = Array.tabulate(PqK)(c => sub(c % sub.length).map(_.toDouble))
    for (_ <- 1 to PqIters) {
      val sums = Array.fill(PqK)(new Array[Double](d))
      val cnts = new Array[Long](PqK)
      val cn2 = norms2(cents)
      sub.foreach { v =>
        val c = nearest(v, cents, cn2)
        var i = 0
        while (i < d) { sums(c)(i) += v(i); i += 1 }
        cnts(c) += 1L
      }
      cents = Array.tabulate(PqK) { c =>
        if (cnts(c) == 0L) cents(c)
        else Array.tabulate(d)(i => math.rint(sums(c)(i) / cnts(c) * 1e9) / 1e9)
      }
    }
    cents
  }

  /** Product-quantization ANN (the compressed-corpus scale path):
    * per-subspace codebooks from a bounded sample, corpus encoded to
    * PqM codes, queries scored by asymmetric distance computation —
    * a per-query lookup table of (query-subvector · centroid) partial
    * dots, so each corpus row costs PqM table adds instead of a
    * 64-float dot — exact norms kept per row so the approximate
    * cosine uses the true denominator; the approximate cosine is the
    * score of q51's [[candidateTail]]. One shuffle-free corpus pass at
    * 8 B/row compare cost; rows-only — SimilaritySpec asserts recall
    * vs q50. */
  def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = withNorm(Tables(s, dir, "embeddings"))
    // ONE table scan: the count, sample collect, query collect, and
    // the scoring pass all consume the checkpointed projection
    val typed = e.select(col("vec_id"), col("embedding"), col("nrm"))
      .as[(Long, Seq[Float], Double)].localCheckpoint(false)
    // bounded deterministic training sample, RANK-based: every
    // step-th row of the checkpointed projection, so the collect is
    // ~PqSampleCap rows regardless of id layout. (Raw id-modulo
    // assumed dense zero-based vec_ids: sparse or offset ids made
    // the sample empty — sample.head throws — or far beyond the
    // cap. On dense 0..n-1 ids rank == id, so the sample and the
    // recall spec's measured numbers are unchanged.)
    val n = typed.count()
    val step = math.max(1L, n / PqSampleCap)
    val sample = typed.rdd.zipWithIndex()
      .filter { case (_, r) => r % step == 0L }
      .map { case ((id, v, _), _) => (id, v) }
      .collect().sortBy(_._1)
      .map(_._2.toArray)
    val dim = sample.head.length
    // non-empty subspaces covering every dimension: at most PqM
    // slices, the LAST one extended to dim so a non-divisible dim
    // never silently drops its tail dimensions from codes and scores
    val effM = math.min(PqM, dim)
    val subDim = dim / effM
    val slices: Array[(Int, Int)] =
      Array.tabulate(effM)(m => (m * subDim, if (m == effM - 1) dim else (m + 1) * subDim))
    val books: Array[Array[Array[Double]]] = slices.map { case (lo, hi) =>
      fitSubCodebook(sample.map(_.slice(lo, hi)))
    }
    // queries: bounded set, driver-collected (q51 pattern)
    val queries: Array[(Long, Array[Float], Double)] =
      typed.filter(_._1 < QueryMax).collect().sortBy(_._1)
        .map { case (id, v, nm) => (id, v.toArray, nm) }
    val nq = queries.length
    val nSub = slices.length
    val bcBooks = s.sparkContext.broadcast(books)
    candidateTail(s, e, queries.map(_._1), typed) { () =>
      val bks = bcBooks.value
      val subN2: Array[Array[Double]] = bks.map(norms2)
      // ADC tables: lut(q)(m)(c) = query_m · centroid_mc
      val lut = Array.tabulate(nq, nSub, PqK) { (qi, m, c) =>
        dot(queries(qi)._2, slices(m)._1, bks(m)(c))
      }
      val code = new Array[Int](nSub)
      (r, sc) => {
        val arr = r._2.toArray
        var m = 0
        while (m < nSub) { code(m) = nearest(arr, slices(m)._1, bks(m), subN2(m)); m += 1 }
        var qi = 0
        while (qi < nq) {
          var d = 0.0
          var mm = 0
          while (mm < nSub) { d += lut(qi)(mm)(code(mm)); mm += 1 }
          sc(qi) = d / (queries(qi)._3 * r._3)
          qi += 1
        }
      }
    }
  }

  /** Lloyd-fit coarse cells shared by q52 (IVF probing) and
    * [[Dedup.q45]] (SemDeDup): k = ⌈√n⌉ cells, map-side argmin
    * against broadcast centroids (no n×k shuffle), k×dim partial
    * sums per partition to the driver per iteration (the MLlib
    * collect shape — bounded by k·dim·#partitions, not data size).
    * Above [[FitSampleFloor]] vectors the Lloyd iterations run on a
    * deterministic hash-thinned sample (the assignment pass stays
    * full-corpus). Deterministic: init from the k lowest fit-frame
    * vec_ids, centroids rounded to 1e-9 each iteration so FP
    * accumulation order cannot make runs diverge. Returns the cell
    * assignment
    * (vec_id, cid, cid2, ed, nrm) — cid2 is the runner-up cell, used
    * by SemDeDup's overlapping candidate generation — and the final
    * centroids. */
  /** Per-JVM memo of the coarse-quantizer fit over a dir's embeddings
    * table. The fit is DETERMINISTIC (lowest-id init, 1e-9-rounded
    * centroids), so memoizing is semantically transparent; five
    * operators (q45/q52/q54→q91/q98) and repeated bench runs share
    * ONE fitted index instead of each re-running the serial Lloyd
    * jobs — the in-JVM analog of the persisted AnnIndex (fit once,
    * probe many). The cached assignment is localCheckpoint'ed: the
    * materialization IS the index (vector-linear, bounded — ~0.5 KB
    * per vector), and every consumer already checkpointed it locally
    * before sharing existed. Keyed by (session, dir, mode) so a new
    * session or a different dataset refits. */
  private val fitCache = new graft.Memo.DirMemo[(DataFrame, Array[Array[Double]])]

  private[operators] def ivfCells(s: SparkSession, dir: String,
      cellSize: Option[Int] = None): (DataFrame, Array[Array[Double]]) =
    fitCache.getOrElseUpdate(s, dir, cellSize.toString) {
      val (cells, cents) = ivfCellsOf(s, Tables(s, dir, "embeddings"), cellSize)
      (cells.localCheckpoint(false), cents)
    }

  /** `cellSize = None` → k = ⌈√n⌉ cells (q52's single-query operating
    * point); `Some(B)` → FIXED expected cell size: k = ⌈n/B⌉, the
    * extreme-scale knob where per-vector probe volume stays nprobe·B
    * regardless of corpus growth (see [[q54]]'s Scaladoc; the recall
    * equivalence of the two modes is spec-tested at sf0.001). */
  /** Above this corpus size `cellSize = None` resolves to the
    * fixed-cell-size quantizer instead of k = ⌈√n⌉: past ~1M vectors
    * the √n mode's per-query probe volume (nprobe·√n) keeps growing
    * with the corpus, while fixed B holds it at nprobe·B forever —
    * the operating point an ANN service actually provisions for.
    * Recall equivalence of the two modes is spec-pinned (both ≥0.75,
    * within 0.05 of each other at equal nprobe). Every shipped/stress
    * corpus (≤150k vectors) sits BELOW the threshold, so oracle and
    * spec numbers are unchanged. The fit side holds at any k: Lloyd
    * partials merge executor-side in a tree ([[ivfCellsOf]]), never
    * k×dim×#partitions through one driver round. */
  private[graft] val IvfFixedBThreshold = 1000000L
  private[graft] val IvfDefaultCellB = 4096

  /** Hard cap on the centroid count: the centroid matrix is the one
    * piece of the index that MUST live in memory (the fit broadcasts
    * it per Lloyd round; every probe/assignment argmins against it),
    * so k is clamped where the matrix reaches ~128 MB at dim 64
    * (2^18 × 64 × 8 B). Past the clamp — n > ~10^9 vectors at the
    * default B — expected cell size grows linearly instead: probes
    * read proportionally larger cells from the cid-partitioned disk
    * layout (`sources.AnnIndex`, where cells are spilled parquet and
    * only the centroid matrix stays resident). That is the standard
    * single-level-IVF regime boundary; a deployment needing finer
    * cells at that scale shards the corpus or adds a second
    * quantizer level, it does not grow a flat driver array without
    * bound. */
  private[graft] val IvfMaxDriverK = 1 << 18

  /** Effective centroid-count target for a corpus of n vectors —
    * the mode dispatch, separated so the threshold branch and the
    * [[IvfMaxDriverK]] clamp are unit-testable without fitting a
    * billion-vector corpus. */
  private[graft] def kTargetFor(n: Long, cellSize: Option[Int]): Int =
    math.min(IvfMaxDriverK.toLong, cellSize match {
      case Some(b)                        => math.ceil(n.toDouble / b.toDouble).toLong
      case None if n > IvfFixedBThreshold =>
        math.ceil(n.toDouble / IvfDefaultCellB.toDouble).toLong
      case None                           => math.ceil(math.sqrt(n.toDouble)).toLong
    }).toInt

  /** Lloyd-iteration sample bound: the fit sees at most
    * max(floor, k·perCell) vectors — the centroid ESTIMATE needs
    * O(samples-per-cell) support per cell, not the whole corpus —
    * while the final assignment pass still scans every vector (each
    * one needs a cell). Turns the √n-mode fit from O(iters·n·k·dim)
    * = n^1.5 into one full pass + iters·m·k·dim: at 600k vectors
    * (stress x300) the route fit was the composed build's
    * worst-scaling stage (4.4× wall at 3× data, SURVEY §15); at 10⁹
    * vectors in fixed-B mode (k = n/4096) the sample is k·64 ≈ 16M —
    * 64 observations per centroid, fit cost ~2% of a full pass.
    * Sampling is a deterministic xxhash64(vec_id) ppm thin — stable
    * across runs, partitionings, and sessions, preserving the fit's
    * determinism contract. Every corpus ≤ the floor (all driver SFs,
    * stress ≤ x30) samples NOTHING and stays bit-identical to the
    * pre-r13 fit. */
  private[graft] val FitSampleFloor   = 131072L
  private[graft] val FitSamplePerCell = 64L

  private[graft] def ivfCellsOf(s: SparkSession, e0: DataFrame,
      cellSize: Option[Int] = None,
      fitFloor: Long = FitSampleFloor,
      fitPerCell: Long = FitSamplePerCell): (DataFrame, Array[Array[Double]]) = {
    import s.implicits._
    val iters = 3
    val e = withNorm(e0).select(col("vec_id"), col("ed"), col("nrm"))
    val typed = e.as[(Long, Seq[Float], Double)]
    val n = typed.count()
    // empty fit frame (a spec's custom corpus, a fully-quarantined
    // ingest): degrade to an empty assignment + no centroids instead
    // of throwing — the seed collect below has nothing to seed from,
    // and treeReduce throws outright on a zero-partition RDD (the
    // NoveltyStream rdd.reduce class)
    if (n == 0L)
      return (s.emptyDataset[(Long, Int, Int, Seq[Float], Double)]
        .toDF("vec_id", "cid", "cid2", "ed", "nrm"), Array.empty[Array[Double]])
    val kTarget = kTargetFor(n, cellSize)
    // floor of 16 for probe selectivity, capped at n so the lowest-id
    // init below always yields exactly k centroids
    val k = math.max(1L, math.min(math.max(16, kTarget).toLong, n)).toInt

    // bounded fit sample (see [[FitSampleFloor]]): Lloyd iterates —
    // and seeds — over fitTyped; the final assignment pass below
    // still scans the FULL corpus. When the cap doesn't engage
    // (mTarget ≥ n) fitE IS e and the fit is bit-identical to the
    // unsampled form.
    val mTarget = math.max(fitFloor, k.toLong * fitPerCell)
    val fitE = if (mTarget >= n) e else {
      val ppm = math.max(1L, mTarget * 1000000L / n)
      e.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < lit(ppm))
    }
    val fitTyped = fitE.as[(Long, Seq[Float], Double)]

    var cents: Array[Array[Double]] = fitE.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("ed")).as[(Long, Seq[Float])]
      .collect().map(_._2.toArray.map(_.toDouble))
    // the ppm thin is binomial, so the sample can (astronomically
    // rarely, or on a spec's tiny forced-floor corpus) hold fewer
    // than k vectors — kEff keeps the centroid array and the
    // tabulate below consistent with what the seed collect returned.
    // An EMPTY sample falls back to unsampled seeds (n > 0 here, so
    // the corpus has rows even when the thin caught none)
    if (cents.isEmpty)
      cents = e.orderBy("vec_id").limit(k)
        .select(col("vec_id"), col("ed")).as[(Long, Seq[Float])]
        .collect().map(_._2.toArray.map(_.toDouble))
    val kEff = cents.length
    val dim = cents.head.length

    for (_ <- 1 to iters) {
      val bc = s.sparkContext.broadcast(cents)
      // Per-partition partials accumulate in primitive doubles
      // (sequential, deterministic for a fixed scan — unchanged);
      // the CROSS-partition merge is a treeReduce over EXACT
      // BigDecimal sums (each partial converted via `new
      // BigDecimal(double)`, the exact binary value), so (a) the
      // driver receives ONE k-bounded accumulator instead of
      // k×dim×#partitions — fixed-B mode (k = n/B) holds at 10⁹+
      // vectors — and (b) the merge is associative/commutative in
      // EXACT arithmetic, so the nondeterministic tree order cannot
      // perturb a centroid (a double-summed tree merge would be
      // run-order-dependent, breaking the fit's determinism
      // contract). One correctly-rounded doubleValue per component
      // at the end, then the same 1e-9 centroid grid as always.
      val merged = fitTyped.rdd.mapPartitions { it =>
        val cs = bc.value
        val cn2 = norms2(cs)
        val sums = new scala.collection.mutable.HashMap[Int, Array[Double]]
        val cnts = new scala.collection.mutable.HashMap[Int, Long]
        it.foreach { case (_, v, _) =>
          val arr = v.toArray
          val cid = nearest(arr, cs, cn2)
          val sm = sums.getOrElseUpdate(cid, new Array[Double](dim))
          val m = math.min(arr.length, dim)
          var i = 0
          while (i < m) { sm(i) += arr(i); i += 1 }
          cnts.update(cid, cnts.getOrElse(cid, 0L) + 1L)
        }
        val part = new scala.collection.mutable.HashMap[Int, (Array[java.math.BigDecimal], Long)]
        sums.foreach { case (c, sm) =>
          part.update(c, (sm.map(d => new java.math.BigDecimal(d)), cnts(c)))
        }
        Iterator.single(part)
      }.treeReduce({ (a, b) =>
        b.foreach { case (c, (bs, bn)) =>
          a.get(c) match {
            case Some((as, an)) =>
              var i = 0
              while (i < as.length) { as(i) = as(i).add(bs(i)); i += 1 }
              a.update(c, (as, an + bn))
            case None => a.update(c, (bs, bn))
          }
        }
        a
      }, depth = 2)
      cents = Array.tabulate(kEff) { c =>
        merged.get(c) match {
          case Some((sm, ct)) =>
            Array.tabulate(dim)(i => math.rint(sm(i).doubleValue / ct * 1e9) / 1e9)
          case None => cents(c) // empty cell keeps its centroid
        }
      }
      bc.unpersist()
    }

    val bcF = s.sparkContext.broadcast(cents)
    val cells = typed.mapPartitions { it =>
      val cs = bcF.value
      val cn2 = norms2(cs)
      // (best, runner-up) cell; one centroid → cid2 = cid
      it.map { case (id, v, nrm) =>
        val nn = nearest(v.toArray, cs, cn2, 2)
        (id, nn(0), nn.last, v, nrm)
      }
    }.toDF("vec_id", "cid", "cid2", "ed", "nrm")
    (cells, cents)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: see
    * [[ivfCells]] for the fit. Queries probe only the `nprobe`
    * nearest cells, so probe volume is nprobe·√n rows, not O(n); at
    * 100 TB the cell index is written bucketed by cell id so a probe
    * reads only matching buckets. rows-only; SimilaritySpec asserts
    * recall vs q50. */
  def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nprobe = 4
    val (cells, cents) = ivfCells(s, dir)
    val e = withNorm(Tables(s, dir, "embeddings")).select(col("vec_id"), col("ed"), col("nrm"))
    val typed = e.as[(Long, Seq[Float], Double)]
    // probe list: nprobe nearest cells per query, driver-computed
    // from the bounded query set (ties to the lowest cid)
    val cn2 = norms2(cents)
    val probes = typed.filter(_._1 < QueryMax).collect().sortBy(_._1)
      .flatMap { case (qid, qv, qn) =>
        nearest(qv.toArray, cents, cn2, nprobe).map(c => (qid, qv, qn, c))
      }.toSeq.toDF("query_id", "qe", "qn", "cid")
    val scored = cells.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", ops.r6(dotp(col("qe"), col("ed")) / (col("qn") * col("nrm"))))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
    top5(scored)
  }

  /** All-corpus kNN GRAPH — top-5 neighbors for EVERY vector, the
    * primitive behind diversity analysis, graph-based clustering,
    * and SemDeDup-style curation. The defining constraint: the query
    * set IS the corpus, so the q50/q51/q52 pattern (driver-collected
    * bounded queries, broadcast) is illegal — nothing here may
    * collect or broadcast corpus-sized state.
    *
    * Shape: shared IVF fit ([[ivfCells]]); each vector emits its
    * nprobe nearest cells map-side against the broadcast centroids
    * (n×nprobe rows — linear, small constant); one shuffle equi-join
    * on cell id against the cell index; codegen'd cosine on the
    * co-cell candidates (n·nprobe·√n pairs, never n²); bounded
    * per-group top-k aggregate. The cell index is localCheckpointed —
    * probes and index are two consumers of the assignment pass. At
    * 100 TB the index is written bucketed by cell so the join
    * co-locates without a shuffle (BucketingSpec proves the shape).
    *
    * Cell-count tuning: ivfCells' k = ⌈√n⌉ minimizes single-query
    * cost (q52's operating point) and makes the graph's compare
    * volume n·nprobe·√n. For the all-corpus graph at extreme scale
    * the right knob is FIXED cell size B (k ∝ n/B): probe volume per
    * vector becomes nprobe·B = constant and total work linear in n —
    * the same tunable, a different setting; recall/cost trade is
    * B × nprobe either way — [[knnGraphOf]] takes the knob and
    * SimilaritySpec holds the fixed-B mode to the √n mode's recall
    * at sf0.001. rows-only; SimilaritySpec asserts recall vs an
    * exact driver-computed graph at sf0.001. */
  def q54(s: SparkSession, dir: String): DataFrame = {
    val (cells, cents) = ivfCells(s, dir) // shared cached fit
    knnGraphCells(s, cells.select("vec_id", "cid", "cid2", "ed", "nrm"), cents)
  }

  /** q54 core over any embeddings-shaped frame; `cellSize` selects
    * the coarse-quantizer mode and `fitFloor`/`fitPerCell` the fit
    * sample bound (see [[ivfCellsOf]]; spec injection points). */
  private[graft] def knnGraphOf(s: SparkSession, e0: DataFrame,
      cellSize: Option[Int],
      fitFloor: Long = FitSampleFloor,
      fitPerCell: Long = FitSamplePerCell): DataFrame = {
    val (cells0, cents) = ivfCellsOf(s, e0, cellSize, fitFloor, fitPerCell)
    knnGraphCells(s,
      cells0.select("vec_id", "cid", "cid2", "ed", "nrm").localCheckpoint(false), cents)
  }

  private def knnGraphCells(s: SparkSession, cells: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val nprobe = 6
    val bc = s.sparkContext.broadcast(cents)
    val probes = cells.select(col("vec_id"), col("ed"), col("nrm"))
      .as[(Long, Seq[Float], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        val cn2 = norms2(cs)
        it.flatMap { case (id, v, nrm) =>
          nearest(v.toArray, cs, cn2, nprobe).map(c => (id, v, nrm, c))
        }
      }.toDF("query_id", "qe", "qn", "cid")
    // soft residency (q45's trick): every vector is indexed under its
    // best AND runner-up cell, so a neighbor straddling a cell
    // boundary is still probed. A pair can then be found via both
    // residencies → dedupe on (query, neighbor) before ranking
    // (cosines are identical, max is a pure dedupe).
    val index = cells
      .select(explode(array(col("cid"), col("cid2"))).as("cid"),
        col("vec_id").as("neighbor_id"), col("ed").as("ce"), col("nrm").as("cn"))
    // shuffle_merge, NOT broadcast (the q43/q45 lesson): the index is
    // broadcast-eligible in bytes but the join is match-MULTIPLIED by
    // cell size — under a broadcast plan the whole multiplied probe
    // runs in however few partitions the probe side has; shuffling by
    // cid parallelizes the explosion by key
    val scored = probes.hint("shuffle_merge").join(index.hint("shuffle_merge"), "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", ops.r6(dotp(col("qe"), col("ce")) / (col("qn") * col("cn"))))
      .groupBy("query_id", "neighbor_id").agg(max("cosine").as("cosine"))
    top5(scored)
  }

  /** PageRank rounds and damping factor for q91. */
  private[graft] val PrIters = 10
  private[graft] val PrDamp = 0.85

  /** Semantic-centrality document ranking: PageRank over the q54 kNN
    * graph — the "pick representative / prototypical examples" pass
    * of a curation pipeline (central vectors summarize their region;
    * low-rank periphery is outlier-or-novelty). Fixed [[PrIters]]
    * power-iteration rounds at damping [[PrDamp]].
    *
    * Scale shape: the graph is vertex-linear (k·n edges from q54 —
    * nothing corpus-quadratic), the edge frame is repartitioned ONCE
    * by src and localCheckpointed (LogicalRDD keeps the partitioning,
    * so each round's join re-shuffles only the vertex-sized rank
    * frame), iteration frames are data-sized (the q65 rule), and
    * per-round lineage is truncated by an eager localCheckpoint with
    * the superseded round's blocks dropped. Every vertex of a kNN
    * graph has out-degree ≥ 1 (each vector queries its neighbors), so
    * there is no dangling-mass correction to apply — asserted, not
    * assumed. rows-only: distributed double summation is
    * order-dependent, so SimilaritySpec compares against an exact
    * driver-side power iteration under a 1e-9 relative tolerance and
    * pins the rank ORDER of the clear-margin head. */
  def q91(s: SparkSession, dir: String): DataFrame =
    pagerankOf(s, q54(s, dir).select(col("query_id").as("src"), col("neighbor_id").as("dst")))

  /** q91 core over any (src, dst) edge frame. */
  private[graft] def pagerankOf(s: SparkSession, edges0: DataFrame): DataFrame = {
    val e0 = edges0.localCheckpoint(false)
    val parts = math.max(1L, math.min(e0.count() / 500000L + 1L,
      s.sparkContext.defaultParallelism.toLong)).toInt
    val outd = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edges = e0.join(outd, "src")
      .repartition(parts, col("src"))
      .localCheckpoint(false)
    val verts = e0.select(col("src").as("v"))
      .union(e0.select(col("dst").as("v"))).distinct()
      .repartition(parts, col("v"))
      .localCheckpoint(false)
    val n = verts.count()
    require(verts.join(outd, verts("v") === outd("src"), "left_anti").isEmpty,
      "q91 assumes no dangling vertices (every kNN vertex queries); found some")
    val base = (1.0 - PrDamp) / n
    // NO per-round checkpoints, deliberately (measured: an eager
    // checkpoint per round costs ~0.5 s of pure job scheduling on a
    // vertex frame this small — 10 rounds turned the loop
    // scheduling-bound). Unlike q65, nothing here multi-consumes an
    // unbarriered subtree: every round's rank frame feeds EXACTLY one
    // consumer (the next round) and the shared leaves (verts, edges)
    // are checkpointed, so the whole fixed-iteration loop is one pure
    // plan TREE — a single action executes each subtree once, and
    // Catalyst compiles the ~10-join chain in one pass. The q65
    // action-per-round rule is for convergence LOOPS, whose round
    // count is data-dependent and whose lineage is unbounded;
    // PageRank's is fixed and bounded at PrIters.
    // Each round is ONE join + ONE aggregation: the teleport base is
    // folded in as a per-vertex union row, so no second join against
    // the vertex frame is needed for zero-in-degree vertices.
    var ranks = verts.withColumn("pr", lit(1.0 / n))
    var round = 0
    while (round < PrIters) {
      val contrib = ranks.join(edges, ranks("v") === edges("src"))
        .select(col("dst").as("v"),
          (lit(PrDamp) * col("pr") / col("outdeg")).as("c"))
      ranks = contrib.union(verts.withColumn("c", lit(base)))
        .groupBy("v").agg(sum("c").as("pr"))
      round += 1
    }
    val ind = e0.groupBy(col("dst").as("v")).agg(count(lit(1)).as("in_degree"))
    ranks.join(ind, Seq("v"), "left")
      .select(col("v").as("vec_id"), ops.r6(col("pr") * n).as("centrality"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .orderBy("vec_id")
  }

  /** Triplet / hard-negative mining over the kNN graph — the
    * embedding-training data op: for every vector, its hardest
    * positive (nearest same-label neighbor) and hardest negative
    * (nearest different-label neighbor), plus the triplet margin.
    * A negative margin marks a violating triplet — exactly the pairs
    * contrastive fine-tuning wants in a batch.
    *
    * Scale shape: composes q54 (vertex-linear candidate edges, never
    * n²) with one label equi-join per endpoint and a per-query
    * argmax via struct max_by aggregates — no window, no extra
    * shuffle beyond the neighbor-label hop. Deterministic: ties
    * break on (cosine DESC, neighbor_id ASC) through an exact struct
    * ordering. rows-only (the candidate set is the ANN graph's);
    * SimilaritySpec recomputes from the same graph + labels and
    * compares exactly. */
  def q94(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val g = q54(s, dir)
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "q_label"), "query_id")
      .join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label"), "neighbor_id")
    // argmax by (cosine DESC, neighbor_id ASC): max of
    // struct(cosine, -neighbor_id, neighbor_id) — struct ordering is
    // lexicographic and exact on (double, long)
    def best(cond: Column) = max(when(cond,
      struct(col("cosine"), (-col("neighbor_id")).as("nid"), col("neighbor_id"))))
    g.groupBy("query_id", "q_label")
      .agg(
        best(col("n_label") === col("q_label")).as("pos"),
        best(col("n_label") =!= col("q_label")).as("neg"))
      .select(col("query_id"), col("q_label").as("label"),
        col("pos.neighbor_id").as("pos_id"), col("pos.cosine").as("pos_cosine"),
        col("neg.neighbor_id").as("neg_id"), col("neg.cosine").as("neg_cosine"),
        ops.r6(col("pos.cosine") - col("neg.cosine")).as("margin"),
        (col("pos.cosine") < col("neg.cosine")).as("violating"))
      .orderBy("query_id")
  }

  /** Quota per semantic cell for q98. */
  private[graft] val DivK = 10

  /** Semantic-DIVERSITY sampling — q83's embedding-space sibling:
    * instead of K docs per LANGUAGE, keep K vectors per k-means cell
    * of embedding space, so the sample covers every semantic region
    * instead of mirroring the corpus's topic skew (the "diverse
    * subset" selection step of curation pipelines, SemDeDup's
    * sampling complement).
    *
    * Reuses the shared IVF cell fit (q45/q52/q54) and ranks within a
    * cell by the md5 hash of the vec_id — deterministic pseudorandom
    * order, so reruns and re-partitioning pick the same sample and no
    * id-ordering bias leaks in. Per-cell top-K through the k-bounded
    * TopK aggregate (map-side partials; never a #cells-partition
    * window). rows-only (cells are k-means-dependent);
    * SimilaritySpec recomputes the selection exactly from the same
    * cell assignment. */
  def q98(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK
    val (cells, _) = ivfCells(s, dir) // shared cached fit
    cells
      .select(col("cid"), col("vec_id"),
        expr("CAST(conv(substring(md5(CAST(CAST(vec_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)").as("h"))
      .groupBy("cid")
      .agg(TopK.topk(DivK)(-col("h").cast("double"), col("vec_id")).as("top"))
      .select(col("cid"), posexplode(col("top")))
      .select(col("cid"), (col("pos") + 1).as("rank"), col("col.id").as("vec_id"),
        (-col("col.score")).cast("long").as("h"))
      .orderBy("cid", "rank")
  }

  /** Embedding-table VALIDATION core (shared with the spec, which
    * drives it with synthesized corrupt rows — the live table is
    * clean, like the multimodal header corpus): one corpus pass to
    * the per-flag counts, with the EXPECTED dimension inferred as the
    * modal vector length (ties → smallest). NaN/±Inf detection via
    * explicit element filters — never a NaN-through-max comparison,
    * whose ordering semantics differ per engine; all-zero spelled
    * `no element ≠ 0.0` so a NaN element disqualifies in both
    * engines (NaN = 0 is false in Spark and DuckDB). */
  private[graft] def validateEmbeddings(e: DataFrame): DataFrame = {
    val dims = e.filter(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("d")).agg(count(lit(1)).as("c"))
    val expected = dims.orderBy(col("c").desc, col("d").asc).limit(1)
      .select(col("d").cast("long").as("exp_dim"))
    val nullV = col("embedding").isNull
    val nan = !nullV && expr("size(filter(embedding, x -> isnan(x))) > 0")
    val inf = !nullV && expr(
      "size(filter(embedding, x -> abs(x) = CAST('Infinity' AS FLOAT))) > 0")
    val wrongDim = !nullV && size(col("embedding")).cast("long") =!= col("exp_dim")
    val zero = !nullV && size(col("embedding")) > 0 &&
      expr("size(filter(embedding, x -> NOT (x = CAST(0.0 AS FLOAT)))) = 0")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    // LEFT join on true, not a crossJoin: when EVERY embedding is null
    // the modal frame is empty and a cross join would annihilate the
    // report (n_vecs = 0 for a fully corrupt table — the exact state a
    // validator must shout about). Left-on-true keeps every row with a
    // null exp_dim; wrong_dim is then null → counts 0, and n_valid's
    // null-row guard already excludes every row.
    e.join(broadcast(expected), lit(true), "left")
      .agg(
        first("exp_dim").as("exp_dim"),
        count(lit(1)).as("n_vecs"),
        cnt(nullV).as("n_null"),
        cnt(wrongDim).as("n_wrong_dim"),
        cnt(nan).as("n_nan"),
        cnt(inf).as("n_inf"),
        cnt(zero).as("n_zero"),
        cnt(!nullV && !wrongDim && !nan && !inf && !zero).as("n_valid"))
  }

  /** Embedding intake VALIDATION report — the gate an ANN/dedup
    * pipeline runs before indexing 100 TB of vectors: null rows,
    * dimension drift against the modal dimension, NaN/±Inf elements,
    * all-zero vectors (unnormalizable — they break cosine), and the
    * clean count. One map-only pass + a ≤#distinct-dims-row modal
    * aggregate; nothing shuffles the vectors themselves. */
  def q107(s: SparkSession, dir: String): DataFrame =
    validateEmbeddings(Tables(s, dir, "embeddings"))

  private val q107Sql =
    s"""WITH e AS (SELECT embedding FROM embeddings),
       dm AS (SELECT len(embedding) AS d, count(*) AS c FROM e
              WHERE embedding IS NOT NULL GROUP BY 1),
       x AS (SELECT CAST(d AS BIGINT) AS exp_dim FROM dm ORDER BY c DESC, d ASC LIMIT 1),
       f AS (SELECT
               embedding IS NULL AS is_null,
               embedding IS NOT NULL AND len(list_filter(embedding, y -> isnan(y))) > 0 AS has_nan,
               embedding IS NOT NULL AND len(list_filter(embedding, y -> abs(y) = 'Infinity'::FLOAT)) > 0 AS has_inf,
               embedding IS NOT NULL AND CAST(len(embedding) AS BIGINT) <> exp_dim AS wrong_dim,
               embedding IS NOT NULL AND len(embedding) > 0
                 AND len(list_filter(embedding, y -> NOT (y = 0.0::FLOAT))) = 0 AS all_zero
             FROM e LEFT JOIN x ON true)
       SELECT (SELECT exp_dim FROM x) AS exp_dim,
         count(*) AS n_vecs,
         CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(sum(CASE WHEN wrong_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
         CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
         CAST(sum(CASE WHEN has_inf THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
         CAST(sum(CASE WHEN all_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         CAST(sum(CASE WHEN NOT is_null AND NOT wrong_dim AND NOT has_nan
                        AND NOT has_inf AND NOT all_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
       FROM f"""

  /** Expected rows per calibration group: pairs ≈ n·CalibB/2 — fixed
    * group SIZE, so the sample stays LINEAR in the corpus as n grows
    * (the group count scales, not the group). ONE constant, spelled
    * into the oracle SQL via the ceil(n/CalibB) subquery. */
  private[graft] val CalibB = 64

  /** Cross-engine id hash (the [[Sampling.RankExpr]] pair, keyed on
    * vec_id): Spark conv(md5) == DuckDB hex-literal cast. */
  private val IdHashExpr =
    "CAST(conv(substring(md5(CAST(CAST(vec_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
  private val IdHashSql = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"

  /** Pairwise-cosine CALIBRATION histogram — the corpus-geometry
    * report that justifies every similarity threshold in the suite
    * (q44's CosThr, q45's cell radius, q51's "neighbor cosine ~0.3"
    * measurement): the distribution of cos(a,b) over a deterministic
    * linear-size sample of pairs, binned at 0.05.
    *
    * Sampling: each vector lands in group md5(vec_id) % ceil(n/B)
    * (B=[[CalibB]]), pairs are within-group only — E[pairs] = n·B/2,
    * LINEAR in n because the group size is fixed and the group count
    * scales. The hash key makes the sample content-stable across
    * reruns and re-partitioning (no rand()), and unbiased because
    * vec_id carries no geometric information. At 100 TB the
    * within-group self-join is an equi-join on the group key —
    * match-multiplied, hence the shuffle_merge hint (q54 lesson) —
    * and nothing corpus-sized is collected or broadcast (the 1-row
    * count frame is the only crossJoin side, and an agg-without-keys
    * frame is never empty, so the q107 annihilation caveat does not
    * apply).
    *
    * Parity: the cosine is the exact arithmetic tree q44's oracle
    * proved bit-identical cross-engine (sequential double dot,
    * sqrt, one divide), so the floor(cos·20) bin boundary cannot
    * fork; counts are integers; the share divide is one double op. */
  def q114(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val gcnt = e.agg(ceil(count(lit(1)).cast("double") / lit(CalibB.toDouble)).as("g"))
    val keyed = e.crossJoin(broadcast(gcnt))
      .withColumn("grp", expr(IdHashExpr) % col("g"))
      .withColumn("nrm", l2norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("grp"), col("nrm"))
    val pairs = keyed.as("a").hint("shuffle_merge")
      .join(keyed.as("b").hint("shuffle_merge"),
        col("a.grp") === col("b.grp") && col("a.vec_id") < col("b.vec_id"))
      .select((dotp(col("a.embedding"), col("b.embedding")) /
        (col("a.nrm") * col("b.nrm"))).as("cos"))
    pairs
      .groupBy(floor(col("cos") * lit(20.0)).as("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("share",
        ops.r6(col("n_pairs") * lit(1.0) / sum("n_pairs").over(Window.partitionBy())))
      .select(col("bin"), (col("bin") / lit(20.0)).as("cos_lo"), col("n_pairs"), col("share"))
      .orderBy("bin")
  }

  private val q114Sql = {
    val cos = """list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"""
    s"""WITH c AS (SELECT CAST(ceil(count(*) / ${CalibB}.0) AS BIGINT) AS g FROM embeddings),
       e AS (SELECT vec_id, embedding, $IdHashSql % (SELECT g FROM c) AS grp
             FROM embeddings),
       p AS (SELECT $cos AS cos
             FROM e a JOIN e b ON a.grp = b.grp AND a.vec_id < b.vec_id),
       h AS (SELECT CAST(floor(cos * 20.0) AS BIGINT) AS bin, count(*) AS n_pairs
             FROM p GROUP BY 1)
       SELECT bin, bin / 20.0 AS cos_lo, n_pairs,
         ${ops.R6("n_pairs * 1.0 / sum(n_pairs) OVER ()")} AS share
       FROM h ORDER BY bin"""
  }

  /** ANN RECALL EVALUATION — the quality gate an ANN index ships
    * behind, as a first-class operator rather than a test-only
    * number: each approximate method's top-5 (binary-LSH q51, IVF
    * q52, PQ q53) is scored against the brute-force truth (q50) over
    * the shared query contract, reporting matched pairs and
    * recall@5 in integer ppm. This is what a deployment runs after
    * every index rebuild to decide whether to promote it.
    *
    * Scale shape: the truth frame is (QueryMax × 5) rows —
    * localCheckpointed because three method joins consume it (each
    * would otherwise re-run the brute-force scan); each comparison
    * is a semi join on (query, neighbor) + a 1-row count. rows-only:
    * the methods under test are hash/k-means dependent (their own
    * rationale), so there is no SQL oracle — the spec pins the
    * documented recall floors and cross-checks one method's number
    * against an independent join. */
  def q143(s: SparkSession, dir: String): DataFrame = {
    val truth = q50(s, dir).select("query_id", "neighbor_id").localCheckpoint(false)
    // the denominator is the truth frame's ACTUAL size — a corpus
    // with sparse vec_id coverage below QueryMax (or shorter top-5
    // lists) must not silently understate recall against a
    // hard-coded QueryMax·5
    val tcount = truth.agg(count(lit(1)).as("n_truth"))
    def row(name: String, res: DataFrame): DataFrame =
      res.select("query_id", "neighbor_id")
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
        .join(broadcast(tcount), lit(true), "left")
        .select(lit(name).as("method"), col("n_matched"), col("n_truth"),
          expr("CASE WHEN n_truth = 0 THEN NULL ELSE (n_matched * 1000000) div n_truth END")
            .as("recall_ppm"))
    row("ivf", q52(s, dir))
      .unionByName(row("lsh", q51(s, dir)))
      .unionByName(row("pq", q53(s, dir)))
      .orderBy("method")
  }

  /** Map-only assignment of a vector frame to FROZEN centroids —
    * the incremental-maintenance primitive ([[graft.sources.AnnIndex]]
    * append path): no Lloyd rounds, no shuffle, just the broadcast
    * centroid matrix probed per row. Same argmin (ties to lowest
    * cid) as the fit's own final assignment, so appending a batch
    * yields byte-identical cell placement to having fit-assigned it. */
  private[graft] def assignCells(s: SparkSession, e0: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val typed = withNorm(e0).select(col("vec_id"), col("ed"), col("nrm"))
      .as[(Long, Seq[Float], Double)]
    val bc = s.sparkContext.broadcast(cents)
    typed.mapPartitions { it =>
      val cs = bc.value
      val cn2 = norms2(cs)
      it.map { case (id, v, nrm) => (id, nearest(v.toArray, cs, cn2), v, nrm) }
    }.toDF("vec_id", "cid", "ed", "nrm")
  }

  /** Per-row squared quantization error (d² to the assigned frozen
    * centroid) in integer micro-units — the geometry statistic the
    * refit gate compares; micro-longs so partial-sum order can never
    * drift the reported means (the q09 discipline, applied to a
    * diagnostic). */
  private[graft] def quantErrU(s: SparkSession, e0: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val typed = withNorm(e0).select(col("vec_id"), col("ed"), col("nrm"))
      .as[(Long, Seq[Float], Double)]
    val bc = s.sparkContext.broadcast(cents)
    typed.mapPartitions { it =>
      val cs = bc.value
      val cn2 = norms2(cs)
      it.map { case (id, v, nrm) =>
        val arr = v.toArray
        val c = nearest(arr, cs, cn2)
        val d2 = nrm * nrm - 2.0 * dot(arr, cs(c)) + cn2(c)
        (id, math.floor(d2 * 1000000.0 + 0.5).toLong)
      }
    }.toDF("vec_id", "err_u")
  }

  /** RRF constant (Cormack et al.'s k=60) and the fused/list depths.
    * Shared with the oracle SQL through the interpolations below. */
  private[graft] val RrfK = 60
  private[graft] val HybK = 10

  /** HYBRID RETRIEVAL — the serving-side composition a RAG / dense-
    * retrieval corpus runs: per query document (the shared
    * `vec_id < QueryMax` contract; query = "more like this" on the
    * doc's own tokens + its embedding), the lexical BM25 top-10 from
    * an inverted index and the dense cosine top-10 are fused by
    * reciprocal-rank fusion, rrf = 1/(60+r_lex) + 1/(60+r_vec),
    * missing side contributing 0. Exploits the corpus contract
    * doc_id ≡ vec_id (q101/q110's 1:1 text ↔ embedding mapping).
    *
    * Scale shape — both branches are index-shaped, never all-pairs:
    * the lexical side builds the (doc, token, tf) posting frame once
    * (explode + map-side-combined groupBy), semi-joins it down to
    * postings of QUERY tokens only (broadcast of the bounded query
    * token set; the surviving posting list is what an inverted-index
    * lookup would read), and only that slice fans out per query.
    * Document frequencies come from the same slice (df of a query
    * token = its posting count), so the corpus is tokenized exactly
    * once; the slice is localCheckpointed because the df aggregate
    * and the scoring join both consume it. The dense side is q50's
    * broadcast-query scan. Both ranks come from the bounded
    * [[graft.functions.TopKAgg]] (map-side partials, no
    * corpus-sized window shuffle).
    *
    * Numerics (oracle hash-parity): BM25 uses q78's exact parameter
    * set and parenthesization, but per-(query,doc) scores SUM a
    * variable number of per-term contributions — an order-dependent
    * double sum (the q09 class) — so each term is rounded to integer
    * micro-units first and the longs are summed (order-free; exact
    * while per-term micro units stay below 2^53, i.e. corpus doc
    * counts below ~10^9 at these parameters). Both rank keys are
    * integer (lex_u; cos_u = the r6 micro-cosine q50's oracle already
    * proves cross-engine), ties broken by doc_id, and the rrf sum is
    * two exact 1/int divides added in fixed order. */
  def q160(s: SparkSession, dir: String): DataFrame =
    fuseRanks(lexRank(s, dir), vecRank(s, dir))

  /** The lexical (inverted-index BM25) branch: (query_id, doc_id,
    * lex_rank) top-[[HybK]] per query. See [[q160]] for shape and
    * numerics. */
  /** Stopword prune (integer ppm of the doc count): query tokens
    * with df above this fraction are dropped from scoring — the
    * q69-GramCap discipline applied to the retrieval index. Without
    * it the posting slice for a stopword-bearing query IS the corpus
    * (every "the" posting), the quadratic-by-ubiquity trap; with it
    * the slice is bounded by Σ df over the query's DISCRIMINATIVE
    * tokens, which is what an inverted index actually reads (WAND
    * and friends prune harder, same principle). ONE constant, spelled
    * into the oracle SQL. The shipped synthetic vocabulary is tiny
    * (~31 tokens, df 0.4–0.8·n), so the cap genuinely bites at every
    * SF — the non-vacuous-path rule. */
  private[graft] val HybDfMaxPpm = 500000L

  /** The two corpus-shaped retrieval branches are pure functions of
    * (session, dir) and BOTH q160 and q163 compute them — MEMOIZED
    * like fitCache/labelsCache/pairsCache. The cached frames are
    * tiny (≤ HybK×QueryMax rows) so the localCheckpoint is the
    * cheap-barrier case of the CLAUDE.md measure-don't-assume rule;
    * custom-frame consumers (the persisted-index probe, specs) go
    * through [[lexRankOf]], uncached. */
  private val rankCache = new graft.Memo.DirMemo[DataFrame]

  private[graft] def lexRank(s: SparkSession, dir: String): DataFrame =
    rankCache.getOrElseUpdate(s, dir, "lex")(
      lexRankUncached(s, dir).localCheckpoint(false))

  private def lexRankUncached(s: SparkSession, dir: String): DataFrame = {
    val tkE = Dedup.tokensExpr
    val docs = Tables(s, dir, "documents")
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      // integer-valued doubles: exact sum, order-free
      sum(expr(s"size($tkE)").cast("double")).as("sum_dl"))
    val post = docs.select(
        col("doc_id"),
        expr(s"size($tkE)").cast("double").as("dl"),
        explode(expr(tkE)).as("tok"))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).cast("double").as("tf"))
    // corpus document frequencies (vocab-sized output, map-side
    // combined): computed on a second tokenize pass rather than a
    // checkpoint of the corpus-token-sized posting frame (the q31
    // rule: shared-lineage re-execution of a cheap scan beats a big
    // materialization). A deployment holds this frame as index
    // metadata (q145's report is its health check).
    val dfAll = post.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
    // vocab-sized with a full-tokenize lineage and TWO consumers
    // (query-token prune + scoring join): tiny checkpoint, expensive
    // subtree — the q79-card measurement says barrier it
    val kept = dfAll.crossJoin(broadcast(stats))
      .filter(col("df") * lit(1000000.0) <= lit(HybDfMaxPpm.toDouble) * col("n_docs"))
      .select("tok", "df")
      .localCheckpoint(false)
    val qtok = post.filter(col("doc_id") < QueryMax)
      .select(col("doc_id").as("query_id"), col("tok"))
      .join(broadcast(kept.select("tok")), Seq("tok"), "left_semi")
    // postings touching a kept query token: the bounded slice an
    // inverted-index lookup reads; single consumer, no checkpoint
    val jp = post.join(broadcast(qtok.select("tok").distinct()), Seq("tok"), "left_semi")
    lexRankOf(
      jp.join(broadcast(qtok), "tok")
        .filter(col("doc_id") =!= col("query_id"))
        .join(broadcast(kept), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("c_u",
          bm25CU(col("n_docs"), col("sum_dl"), col("df"), col("tf"), col("dl"))),
      HybK)
  }

  /** One BM25 term contribution in integer micro-units — q78's exact
    * parameter set and PARENTHESIZATION (IEEE-identical to the oracle
    * text), floored to a long so the per-(query,doc) sum is
    * order-free. ONE definition shared by the batch branch
    * ([[lexRank]]) and the persisted-index probe
    * ([[graft.sources.LexIndex]]), the FreqStream
    * shared-expression discipline: serving and batch cannot drift. */
  private[graft] def bm25CU(nDocs: Column, sumDl: Column, df: Column,
      tf: Column, dl: Column): Column =
    floor(((nDocs - df + lit(0.5)) / (df + lit(0.5))) *
        (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (dl / (sumDl / nDocs)))) *
      lit(1000000.0) + lit(0.5)).cast("long")

  /** The lexical ranking tail over a scored (query_id, doc_id, c_u)
    * frame — shared by [[lexRank]] and the persisted-index probe. */
  private[graft] def lexRankOf(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id", "doc_id").agg(sum("c_u").as("lex_u"))
      .groupBy("query_id")
      // long-keyed TopK: a cast("double") here would collapse lex_u
      // values above 2^53 into ties (an extra ceiling beyond the
      // documented per-term micro-unit bound) and could diverge from
      // the oracle's exact BIGINT ORDER BY
      .agg(TopK.topkL(k)(col("lex_u"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"), (col("pos") + 1).as("lex_rank"))

  /** The dense (exact cosine) branch: (query_id, doc_id, vec_rank)
    * top-[[HybK]] per query — q50's broadcast-query scan with the
    * integer micro-cosine rank key. */
  private[graft] def vecRank(s: SparkSession, dir: String): DataFrame =
    rankCache.getOrElseUpdate(s, dir, "vec")(
      vecRankUncached(s, dir).localCheckpoint(false))

  private def vecRankUncached(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables(s, dir, "embeddings"))
    val q = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("ed").as("qe"), col("nrm").as("qn"))
    e.select(col("vec_id").as("doc_id"), col("ed").as("ce"), col("nrm").as("cn"))
      .join(broadcast(q), col("doc_id") =!= col("query_id"))
      .withColumn("cos_u",
        floor(dotp(col("qe"), col("ce")) / (col("qn") * col("cn")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .groupBy("query_id")
      .agg(TopK.topk(HybK)(col("cos_u").cast("double"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"), (col("pos") + 1).as("vec_rank"))
  }

  /** RRF fusion + final ranking of the two branch frames. */
  private[graft] def fuseRanks(lex: DataFrame, vec: DataFrame): DataFrame = {
    val fused = lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")).cast("double"), lit(0.0)))
    // the fused frame is BOUNDED by construction (≤ 2·HybK rows per
    // query over the fixed query contract), so a per-query window
    // rank here is a tiny-frame operation, not the corpus-sized
    // window the TopKAgg exists to avoid — and it keeps `fused` at
    // one consumer (a TopK + join-back would run lex+vec twice)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    fused
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= HybK)
      .select(col("query_id"), col("doc_id"), col("rank"),
        coalesce(col("lex_rank"), lit(0)).cast("int").as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).cast("int").as("vec_rank"),
        ops.r6(col("rrf")).as("rrf"))
      .orderBy("query_id", "rank")
  }

  private lazy val q160Sql = {
    val cos = s"${ops.R6("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])")} * 1000000.0"
    s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
                   FROM documents),
       st AS (SELECT count(*)::DOUBLE AS n_docs, sum(len(tk)::DOUBLE) AS sum_dl FROM t),
       post AS (SELECT doc_id, dl, tok, count(*)::DOUBLE AS tf
                FROM (SELECT doc_id, len(tk)::DOUBLE AS dl, unnest(tk) AS tok FROM t)
                GROUP BY 1, 2, 3),
       dfa AS (SELECT tok, count(*)::DOUBLE AS df FROM post GROUP BY 1),
       kept AS (SELECT tok, df FROM dfa, st
                WHERE df * 1000000.0 <= $HybDfMaxPpm * n_docs),
       qt AS (SELECT doc_id AS query_id, tok FROM post
              WHERE doc_id < $QueryMax AND tok IN (SELECT tok FROM kept)),
       jp AS (SELECT * FROM post WHERE tok IN (SELECT DISTINCT tok FROM qt)),
       sc AS (SELECT q.query_id, p.doc_id,
                CAST(sum(CAST(floor((((n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
                  (tf + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs))))) * 1000000.0 + 0.5)
                  AS BIGINT)) AS BIGINT) AS lex_u
              FROM jp p JOIN qt q ON p.tok = q.tok AND p.doc_id <> q.query_id
              JOIN kept f ON p.tok = f.tok, st
              GROUP BY 1, 2),
       lex AS (SELECT query_id, doc_id, lex_rank FROM (
                 SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY lex_u DESC, doc_id) AS lex_rank FROM sc)
               WHERE lex_rank <= $HybK),
       vp AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                CAST(floor($cos + 0.5) AS BIGINT) AS cos_u
              FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              WHERE q.vec_id < $QueryMax),
       vec AS (SELECT query_id, doc_id, vec_rank FROM (
                 SELECT query_id, doc_id, row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_u DESC, doc_id) AS vec_rank FROM vp)
               WHERE vec_rank <= $HybK),
       f AS (SELECT coalesce(l.query_id, v.query_id) AS query_id,
               coalesce(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank AS lr, v.vec_rank AS vr,
               coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + l.lex_rank AS DOUBLE), CAST(0 AS DOUBLE)) +
                 coalesce(CAST(1 AS DOUBLE) / CAST($RrfK + v.vec_rank AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf
             FROM lex l FULL JOIN vec v ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       SELECT query_id, doc_id, rank,
         CAST(coalesce(lr, 0) AS INT) AS lex_rank,
         CAST(coalesce(vr, 0) AS INT) AS vec_rank,
         ${ops.R6("rrf")} AS rrf
       FROM (SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank FROM f)
       WHERE rank <= $HybK ORDER BY query_id, rank"""
  }

  /** Micro-unit integerization of one embedding component — the
    * exact-moment trick (q32's class): floats widen to double
    * exactly, the floor expression is evaluated identically by both
    * engines, and everything after is integer. */
  private val CompU = 1000000.0

  /** EMBEDDING DRIFT — per-source centroid geometry: the embedding-
    * space companion to q106's token-level source shift. For every
    * source pair, the cosine between the two sources' MEAN embeddings
    * (≡ cosine of the component SUMS — scale-invariant, so no
    * per-source divide ever happens), plus the vector counts. A
    * training-mix owner reads this as "which sources occupy the same
    * region" before weighting them.
    *
    * Numerics: component sums accumulate exact integer micro-units
    * (long; DuckDB HUGEINT), dot/norm moments multiply and sum those
    * longs through DECIMAL(38,0) (exact — fits while per-source
    * Σ|comp|·10⁶ stays under ~10^18, i.e. ~10^11 vectors at unit
    * scale; DuckDB's HUGEINT raises rather than wraps, the q142
    * asymmetry, documented here), and each moment casts to double
    * ONCE for the final sqrt/divide — the same IEEE expression tree
    * both sides. Scale shape: one equi-join to attach sources, one
    * posexplode + map-side-combined (source, dim) agg — the only
    * corpus-sized work; everything after runs on a sources×dims
    * frame (checkpointed: three tiny consumers vs an expensive
    * subtree, the q79-card measurement). */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents").select(col("doc_id").as("vec_id"), col("source"))
    val cent = Tables(s, dir, "embeddings")
      .join(src, "vec_id")
      .select(col("source"), posexplode(col("embedding")))
      .groupBy(col("source"), (col("pos") + 1).as("i"))
      .agg(
        sum(floor(col("col").cast("double") * lit(CompU) + lit(0.5)).cast("long")).as("s_u"),
        count(lit(1)).as("n_vecs"))
      .localCheckpoint(false)
    val nrm = cent.groupBy("source")
      .agg(sum(col("s_u").cast("decimal(38,0)") * col("s_u")).as("nrm_u"))
    val a = cent.select(col("source").as("source_a"), col("i"),
      col("s_u").as("sa"), col("n_vecs").as("na"))
    val b = cent.select(col("source").as("source_b"), col("i"),
      col("s_u").as("sb"), col("n_vecs").as("nb"))
    a.join(b, Seq("i")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(sum(col("sa").cast("decimal(38,0)") * col("sb")).as("dot_u"),
        max("na").as("n_a"), max("nb").as("n_b"))
      .join(broadcast(nrm.withColumnRenamed("source", "source_a")
        .withColumnRenamed("nrm_u", "nrm_a")), "source_a")
      .join(broadcast(nrm.withColumnRenamed("source", "source_b")
        .withColumnRenamed("nrm_u", "nrm_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        ops.r6(col("dot_u").cast("double") /
          (sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
          .as("centroid_cosine"))
      .orderBy("source_a", "source_b")
  }

  private lazy val q162Sql =
    s"""WITH j AS (SELECT d.source, e.embedding
                   FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       dims AS (SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings) + 1)) AS i),
       comp AS (SELECT source, i,
                  sum(CAST(floor(embedding[i]::DOUBLE * $CompU + 0.5) AS BIGINT)) AS s_u,
                  count(*) AS n_vecs
                FROM j, dims WHERE i <= len(embedding)
                GROUP BY 1, 2),
       nrm AS (SELECT source, sum(s_u * s_u) AS nrm_u FROM comp GROUP BY 1),
       p AS (SELECT a.source AS source_a, b.source AS source_b,
               sum(a.s_u * b.s_u) AS dot_u,
               max(a.n_vecs) AS n_a, max(b.n_vecs) AS n_b
             FROM comp a JOIN comp b ON a.i = b.i AND a.source < b.source
             GROUP BY 1, 2)
       SELECT source_a, source_b,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         ${ops.R6("CAST(dot_u AS DOUBLE) / (sqrt(CAST(na.nrm_u AS DOUBLE)) * sqrt(CAST(nb.nrm_u AS DOUBLE)))")} AS centroid_cosine
       FROM p JOIN nrm na ON p.source_a = na.source
       JOIN nrm nb ON p.source_b = nb.source
       ORDER BY source_a, source_b"""

  /** RETRIEVAL EVALUATION — the promote/rollback gate for the q160
    * family (q143's pattern, applied to retrieval): known-item
    * recall@10 of the lexical branch, the dense branch, and the RRF
    * fusion, scored against the VERIFIED near-dup pair truth (q41
    * 3-gram Jaccard ∪ q44 embedding cosine, both oracle-proven
    * operators) restricted to the query contract — "can retrieval
    * surface the documents we know are related?". This is the
    * number that justifies shipping fusion instead of either branch.
    *
    * Scale shape: the truth frame is near-dup-pair-sized filtered to
    * queries (bounded), localCheckpointed for its four consumers
    * (the q143 rule: the denominator is counted from the FRAME,
    * never a constant); each method scores via one (query, doc)
    * semi-join + 1-row count; the branch frames are ≤ QueryMax×HybK
    * rows, checkpointed because the fusion consumes them again.
    * rows-only: truth composes q44 (hash-geometry dependent); the
    * spec recounts every cell independently and pins the
    * fused-candidates ⊆ lex ∪ vec containment. */
  def q163(s: SparkSession, dir: String): DataFrame = {
    val lexPairs = Dedup.q41(s, dir).select("d1", "d2")
    val semPairs = Dedup.semPairs(s, dir).select(col("id1").as("d1"), col("id2").as("d2"))
    val und = lexPairs.union(semPairs).distinct()
    val truth = und.union(und.select(col("d2").as("d1"), col("d1").as("d2")))
      .filter(col("d1") < QueryMax)
      .select(col("d1").as("query_id"), col("d2").as("doc_id"))
      .distinct()
      .localCheckpoint(false)
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    // already checkpointed by the rank cache
    val lex = lexRank(s, dir)
    val vec = vecRank(s, dir)
    def row(name: String, ranked: DataFrame): DataFrame =
      ranked.select("query_id", "doc_id")
        .join(truth, Seq("query_id", "doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .join(broadcast(nt), lit(true), "left")
        .select(lit(name).as("method"), col("n_truth"), col("n_hit"),
          expr("CASE WHEN n_truth = 0 THEN NULL ELSE (n_hit * 1000000) div n_truth END")
            .as("recall_ppm"))
    row("fused", fuseRanks(lex, vec))
      .unionByName(row("lex", lex))
      .unionByName(row("vec", vec))
      .orderBy("method")
  }

  /** q166 — kNN LABEL PROBE: the embedding-quality evaluation every
    * mix owner runs before trusting semantic dedup / diversity
    * sampling on an embedding column (the "linear probe lite" of
    * representation evals; reference keeps no embedding-eval at all,
    * so this extends the q143/q144/q152 evaluation-gate family to
    * the label axis the embeddings table already carries). For each
    * query vector (the shared vec_id < QueryMax contract), the EXACT
    * cosine top-10 — q50's oracle-proven ranking: r6-rounded cosine
    * DESC, neighbor_id tie-break — votes on the query's label;
    * majority (votes DESC, label ASC, deterministic in both engines)
    * is the prediction, reported with its vote count and hit
    * verdict.
    *
    * Scale shape: the query side is bounded by contract and
    * broadcast; the corpus is scanned ONCE, scored map-side into the
    * bounded TopK aggregate (no corpus-sized shuffle); the
    * 10×QueryMax top frame re-attaches neighbor labels by
    * broadcast-joining ITSELF against the column-pruned
    * (vec_id, label) projection, so the second corpus pass reads two
    * int columns and streams. The majority window runs over the
    * ≤ QueryMax×|labels| vote frame — nothing corpus-sized ever
    * collects or windows. */
  def q166(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(Tables(s, dir, "embeddings"))
    val q = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("query_id"), col("label"),
        col("ed").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("ed").as("ce"),
      col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", ops.r6(dotp(col("qe"), col("ce")) / (col("qn") * col("cn"))))
    val top = scored.groupBy("query_id", "label")
      .agg(TopK.topk(10)(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("query_id"), col("label"), explode(col("top.id")).as("neighbor_id"))
    val nl = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
    val votes = nl.join(broadcast(top), "neighbor_id")
      .groupBy("query_id", "label", "n_label").agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("label"), col("n_label").as("predicted"),
        col("votes"), (col("label") === col("n_label")).as("hit"))
      .orderBy("query_id")
  }

  private val q166Sql =
    s"""WITH q AS (SELECT * FROM embeddings WHERE vec_id < $QueryMax),
       p AS (SELECT q.vec_id AS query_id, q.label AS label,
               c.vec_id AS neighbor_id, c.label AS n_label,
               ${ops.R6("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])")} AS cosine
             FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
       t AS (SELECT query_id, label, n_label FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rnk FROM p)
             WHERE rnk <= 10),
       v AS (SELECT query_id, label, n_label, count(*) AS votes
             FROM t GROUP BY 1, 2, 3)
       SELECT query_id, label, n_label AS predicted,
         CAST(votes AS BIGINT) AS votes, (label = n_label) AS hit
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY votes DESC, n_label) AS rmaj FROM v)
       WHERE rmaj = 1 ORDER BY query_id"""

  /** q168 — SEMANTIC DECONTAMINATION: the embedding-space sibling of
    * the lexical eval-set scans (q69 exact 8-gram, q77 Bloom, q86
    * fuzzy MinHash). Paraphrased eval contamination shares few
    * 8-grams but lands close in embedding space, so production
    * pipelines run BOTH axes; this is the missing one. Every corpus
    * vector (vec_id ≥ QueryMax — the shared eval-set contract) gets
    * its max cosine against the eval set, the closest eval item
    * (ties → lowest eval_id, both engines), and the verdict at the
    * corpus's q44/q45 operating gate (ONE shared constant,
    * Dedup.CosThr — a doc flagged here is exactly "near-dup of an
    * eval item" under the same geometry the dedup family uses).
    *
    * Scale shape: eval side bounded by contract and broadcast; the
    * corpus is scanned ONCE, scored map-side, and reduced by ONE
    * long `max` over a packed (micro-cosine, ¬eval_id) key — argmax
    * without a window AND without max(struct), which Spark can only
    * SortAggregate (non-primitive buffer → a full sort of the n×|Q|
    * scored frame; measured on the first cut of this operator). The
    * packed key keeps the agg in whole-stage-codegen HashAggregate
    * with map-side partials. micro-cosine = floor(cos·1e6 + 0.5) is
    * exactly r6's numerator, so decode ÷1e6 reproduces the oracle's
    * R6 double bit-for-bit; eval_id < 1024 by the QueryMax contract
    * (guarded). Output is corpus-sized by design (a per-doc verdict
    * gate, like q68). */
  def q168(s: SparkSession, dir: String): DataFrame =
    semanticDecon(Tables(s, dir, "embeddings"))

  /** q168 core over any (vec_id, embedding) frame — spec entry for
    * planted-twin corpora. */
  private[graft] def semanticDecon(raw: DataFrame): DataFrame = {
    val e = withNorm(raw)
    val q = e.filter(col("vec_id") < QueryMax)
      .select(col("vec_id").as("eval_id"), col("ed").as("qe"), col("nrm").as("qn"))
    val c = e.filter(col("vec_id") >= QueryMax)
      .select(col("vec_id"), col("ed").as("ce"), col("nrm").as("cn"))
    require(QueryMax <= 1024, "packed argmax key reserves 10 bits for eval_id")
    c.join(broadcast(q))
      .withColumn("cos_u",
        floor(dotp(col("qe"), col("ce")) / (col("qn") * col("cn"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("key",
        (col("cos_u") + lit(1000000L)) * lit(1024L) + (lit(1023L) - col("eval_id")))
      .groupBy("vec_id")
      .agg(max("key").as("k"))
      .select(col("vec_id"),
        (lit(1023L) - col("k") % lit(1024L)).as("nearest_eval"),
        ((expr("k div 1024") - lit(1000000L)).cast("double") / lit(1000000.0)).as("cosine"))
      .withColumn("contaminated", col("cosine") >= lit(Dedup.CosThr.toDouble))
      .orderBy("vec_id")
  }

  // lazy: reads Dedup.CosThr — eager evaluation here would risk the
  // cross-object init deadlock documented on Dedup.q134Sql.
  private lazy val q168Sql =
    s"""WITH q AS (SELECT vec_id AS eval_id, embedding FROM embeddings
              WHERE vec_id < $QueryMax),
       p AS (SELECT c.vec_id, q.eval_id,
               ${ops.R6("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])")} AS cosine
             FROM embeddings c JOIN q ON c.vec_id >= $QueryMax)
       SELECT vec_id, eval_id AS nearest_eval, cosine,
         (cosine >= ${Dedup.CosThr}) AS contaminated
       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY cosine DESC, eval_id) AS rn FROM p)
       WHERE rn = 1 ORDER BY vec_id"""

  /** PROBE VOLUME PLAN (r9) — the lexical probe's cost as a batch
    * operator: per query doc (the QueryMax contract), how many
    * distinct tokens it carries, how many the HybDfMaxPpm cap indexes
    * vs drops, and the posting volume Σdf its
    * [[graft.sources.LexIndex.probe]] would scan+aggregate. An
    * operator answers "how much posting volume does THIS workload
    * read on THIS corpus" before an index is even built.
    * All-integer (exact long df compare — at 100 TB the 1e6-scaled
    * double compare of q160's build filter would leave 2^53; this
    * operator is the integer-exact spelling).
    *
    * Scale shape: one corpus tokenize → vocab-sized df agg; the
    * query side is QueryMax docs' tokens joined against it; no
    * corpus-sized shuffle beyond the df agg itself. */
  def q182(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${Dedup.tokensExpr})")).as("token"))
      .localCheckpoint(false) // 2 consumers: corpus df agg + query slice
    val st = toks.groupBy("token").agg(count(lit(1)).as("df"))
    val nd = graft.Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val kept = col("df") * lit(1000000L) <= lit(HybDfMaxPpm) * col("n_docs")
    toks.filter(col("doc_id") < QueryMax)
      .withColumnRenamed("doc_id", "query_id")
      .join(st, "token")
      .join(broadcast(nd), lit(true), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(kept, 1L).otherwise(0L)).as("n_indexed_toks"),
        sum(when(kept, col("df")).otherwise(0L)).as("posting_volume"),
        sum(when(kept, 0L).otherwise(1L)).as("n_capped_toks"))
      .orderBy("query_id")
  }

  private val q182Sql =
    s"""WITH pv_t AS (SELECT doc_id, unnest(list_distinct(list_filter(string_split(text,' '), x -> x<>''))) AS token FROM documents),
       pv_st AS (SELECT token, count(*) AS df FROM pv_t GROUP BY token),
       pv_nd AS (SELECT count(*) AS n_docs FROM documents)
       SELECT doc_id AS query_id,
         count(*) AS n_toks,
         CAST(sum(CASE WHEN df * 1000000 <= $HybDfMaxPpm * n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_indexed_toks,
         CAST(sum(CASE WHEN df * 1000000 <= $HybDfMaxPpm * n_docs THEN df ELSE 0 END) AS BIGINT) AS posting_volume,
         CAST(sum(CASE WHEN df * 1000000 > $HybDfMaxPpm * n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_capped_toks
       FROM pv_t JOIN pv_st USING (token), pv_nd
       WHERE doc_id < $QueryMax
       GROUP BY doc_id ORDER BY query_id"""

  lazy val qs: Seq[Q] = Seq(
    Q("q50_knn_brute", q50, Some(q50Sql)),
    Q("q51_knn_lsh", q51, None),
    Q("q52_knn_ivf", q52, None),
    Q("q53_knn_pq", q53, None),
    Q("q54_knn_graph", q54, None),
    Q("q91_graph_centrality", q91, None),
    Q("q94_triplet_mining", q94, None),
    Q("q98_diversity_sample", q98, None),
    Q("q107_embedding_validate", q107, Some(q107Sql)),
    Q("q114_cosine_calibration", q114, Some(q114Sql)),
    Q("q143_ann_recall", q143, None),
    Q("q160_hybrid_retrieval", q160, Some(q160Sql)),
    Q("q162_embedding_drift", q162, Some(q162Sql)),
    Q("q163_retrieval_eval", q163, None),
    Q("q166_label_probe", q166, Some(q166Sql)),
    Q("q168_semantic_decon", q168, Some(q168Sql)),
    Q("q182_probe_volume", q182, Some(q182Sql)))
}
