package graft

import org.apache.spark.sql.functions._

/** Synthetic documents/embeddings generator for SCALE-STRESS runs
  * beyond the driver-shipped SFs (the sf1 question: do the dedup/ANN
  * operators scale ~linearly where the 100 TB design says they
  * should?). Mirrors the driver corpus's statistical family measured
  * at sf0.1 — word-salad texts of 40..70 tokens, 20 sources, 5 langs,
  * planted exact-dup and near-dup groups, 64-dim embeddings in 10
  * Gaussian clusters with planted high-cosine twins — with the VOCAB
  * scaled ∝ n^(1/3) so per-shingle document frequency (the quantity
  * DfCap bounds) stays roughly constant as the corpus grows; without
  * that, a fixed 31-word vocab at 10× pushes most shingles over the
  * cap and the inverted index trivially empties, which measures
  * nothing.
  *
  * Deterministic: every row derives from a hash-seeded RNG on its id,
  * so reruns and partitionings produce identical bytes.
  *
  * usage: runMain graft.GenData <outDir> <nDocs> <nVecs> [events] [clusterW] [vocab] [media]
  *
  * `clusterW` (default 0.3) is the embedding CLUSTER-MASS knob: the
  * centroid component's weight against the fixed 0.25 noise weight.
  * 0.3 reproduces the historical corpora byte-for-byte (the default
  * path is untouched — the ≤2^11 oracle-parity contract); lower
  * values interpolate toward an unclustered cloud, which is how the
  * q154 router's ~3× skew boundary is straddled on purpose
  * (DedupSpec's boundary-corpus spec).
  *
  * `vocab` (default "salad") selects the vocabulary family:
  *  - "salad": the historical uniform draw over a tiny n^(1/3) vocab
  *    (byte-identical to every pre-r9 corpus) — the family where the
  *    lexical df cap provably binds (most tokens sit in >50% of docs)
  *    and per-kept-token posting lists grow ∝ n;
  *  - "zipf": a NATURAL-vocabulary family — vocabulary sized by
  *    Heaps' law (V = 44·N^0.49 over N total tokens) with token
  *    ranks drawn Zipf(s=1) via the exact inverse CDF r = ⌊V^u⌋, so
  *    the corpus has real stopwords (df-capped out), a mid-frequency
  *    body, and a long rare tail — the r8 verdict's missing stress
  *    axis.
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    generate(spark, args(0), args(1).toInt, args(2).toInt,
      args.lift(3).map(_.toInt).filter(_ > 0),
      args.lift(4).map(_.toDouble).getOrElse(0.3),
      args.lift(5).getOrElse("salad"),
      args.lift(6).map(_.toInt).filter(_ > 0))
    spark.stop()
  }

  /** The generator body, callable in-session (specs generate
    * boundary corpora into tmp dirs without owning the session). */
  def generate(spark: org.apache.spark.sql.SparkSession, out: String,
      nDocs: Int, nVecs: Int, nEventsOpt: Option[Int] = None,
      clusterW: Double = 0.3, vocabMode: String = "salad",
      nMediaOpt: Option[Int] = None): Unit = {
    import spark.implicits._

    require(vocabMode == "salad" || vocabMode == "zipf",
      s"vocab mode must be salad|zipf, got $vocabMode")
    val zipf = vocabMode == "zipf"
    // salad: n^(1/3)-scaled tiny vocab (constant per-shingle df);
    // zipf: Heaps'-law vocabulary over the expected token mass
    val vocabN =
      if (zipf) math.max(1000,
        (44.0 * math.pow(nDocs * 55.0, 0.49)).round.toInt)
      else math.max(31, (31 * math.cbrt(nDocs / 5000.0)).round.toInt)
    val vocab: Int => String =
      if (zipf) i => s"z$i" else { val v = Array.tabulate(vocabN)(i => s"w$i"); v(_) }
    val langs = Array("en", "de", "fr", "es", "ja")

    def drawTok(rnd: scala.util.Random): String =
      if (zipf) {
        // Zipf(s=1) over ranks 1..V: P(rank ≤ r) = ln r / ln V, so the
        // inverse CDF is r = V^u — exact, O(1), deterministic per seed
        val r = math.min(vocabN.toDouble, math.max(1.0,
          math.floor(math.pow(vocabN.toDouble, rnd.nextDouble()))))
        vocab(r.toInt - 1)
      } else vocab(rnd.nextInt(vocabN))

    def docText(rnd: scala.util.Random): String = {
      val n = 40 + rnd.nextInt(31)
      Array.fill(n)(drawTok(rnd)).mkString(" ")
    }
    val docs = spark.range(nDocs.toLong).repartition(64).map { jid =>
      val id: Long = jid
      // exact dups: id % 625 == 1 copies id-1; near-dups: id % 500 == 3
      // rewrites ~10% of id-1's tokens (jaccard lands around the 0.6 gate)
      def seeded(i: Long) = new scala.util.Random(i * 2654435761L + 17)
      val rnd = seeded(id)
      val text =
        if (id % 625 == 1 && id > 0) docText(seeded(id - 1))
        else if (id % 500 == 3 && id > 0) {
          val base = docText(seeded(id - 1)).split(' ')
          base.map(t => if (rnd.nextInt(10) == 0) drawTok(rnd) else t)
            .mkString(" ")
        } else docText(rnd)
      (id, text, langs(rnd.nextInt(langs.length)), s"src${rnd.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val vecs = spark.range(nVecs.toLong).repartition(64).map { jid =>
      val id: Long = jid
      (id, embedding(id, clusterW).toSeq, (twinBase(id) % 10).toInt)
    }.toDF("vec_id", "embedding", "label")
    vecs.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Optional 4th arg: an events table in the driver corpus's family
    // (sf0.1 reference: 100k events / 1500 users / 30 days, 5 uniform
    // types, value always present, props = {"k": <int>}) so the
    // events operators (sessionize, range join, attribution, paths)
    // can be stress-measured beyond the shipped SFs. Users scale
    // with events (~67 events/user, the real density) so per-user
    // session structure stays constant as the corpus grows.
    nEventsOpt.foreach { nEvents =>
      val nUsers = math.max(10, nEvents / 67)
      val types = Array("signup", "purchase", "view", "click", "error")
      val t0 = 1704067200000000L // 2024-01-01 UTC micros
      val spanUs = 30L * 86400L * 1000000L
      val events = spark.range(nEvents.toLong).repartition(64).map { jid =>
        val id: Long = jid
        val r = new scala.util.Random(id * 0x9e3779b97f4a7c15L + 41)
        val ts = t0 + (r.nextDouble() * spanUs).toLong
        // ~5% NULL user_id and ~5% NULL value rows: the driver corpus
        // has both, and the events family's guards (q131's isNotNull
        // filter, q137/q140's coalesce-to-0-cents) would otherwise go
        // unexercised in every stress run.
        val user = if (r.nextInt(20) == 0) None
          else Some(1L + r.nextInt(nUsers).toLong)
        val value = if (r.nextInt(20) == 0) None
          else Some(math.floor(r.nextDouble() * 50000.0 + 100.0) / 100.0)
        (id, ts, user, types(r.nextInt(types.length)),
          value, s"""{"k": ${r.nextInt(100)}}""")
      }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .withColumn("ts", expr("timestamp_micros(us)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      events.write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // Optional 7th arg: a MEDIA table — media.parquet (doc_id,
    // payload BINARY) with three deterministic payload classes by
    // doc_id % 3: REAL PNG streams (0), stub-class byte blobs (1,
    // first byte '0' → the jpeg stub class, so they enter the image
    // banding join as background noise), REAL 16-bit-PCM WAV streams
    // (2). The multimodal near-dup family (q155/q157/q171) probes
    // this table when present, so the REAL header/PCM decode paths —
    // not just the driver corpus's ASCII stub class — are what the
    // x10/x30 stress measures. Real streams carry LEVEL-STRUCTURED
    // signals: 64 per-window levels drive the envelope hash's cells
    // directly, so near-dup twins are planted by re-rolling exactly
    // k of the 64 windows of the previous same-class payload
    // (k=3 → hamming well under the ≤8 gate; k=24 "far" variants
    // land far above it). Within a class, group index g = id div 3:
    //   g % 41 == 1 → near twin of g-1;  g % 41 == 2 → near twin of
    //   g-1 on OTHER windows (chains {g-2,g-1,g} into one family);
    //   g % 59 == 5 → far variant of g-1 (a non-pair control).
    // All seeded per id — reruns and partitionings byte-identical.
    nMediaOpt.foreach { nMedia =>
      val media = spark.range(nMedia.toLong).repartition(64).map { jid =>
        val id: Long = jid
        (id, mediaPayload(id))
      }.toDF("doc_id", "payload")
      media.write.mode("overwrite").parquet(s"$out/media.parquet")
    }

    println(s"[gen] $out docs=$nDocs vecs=$nVecs vocab=$vocabN($vocabMode) clusterW=$clusterW" +
      nEventsOpt.map(e => s" events=$e").getOrElse("") +
      nMediaOpt.map(m => s" media=$m").getOrElse(""))
  }

  // ---- embedding family ----

  private val EmbDim = 64

  private def gauss(seed: Long): Array[Double] = {
    val r = new scala.util.Random(seed * 0x9e3779b97f4a7c15L + 3)
    Array.fill(EmbDim)(r.nextGaussian())
  }

  /** Planted twin pairs: id % 143 == 1 is the twin of id - 1 and
    * shares its cluster (the `label` column) and noise. */
  private def twinBase(id: Long): Long = if (id % 143 == 1 && id > 0) id - 1 else id

  /** One vector of the embedding family: `clusterW` times the centroid
    * of cluster `base % 10` (seeded `centSeed + label`) plus `noiseW`
    * times the vector's own noise (seeded `7000 + base`). With `twins`
    * a planted twin adds a 0.15-weight offset of its own to its base's
    * vector. Every value derives from the id alone. */
  private[graft] def embedding(id: Long, clusterW: Double, centSeed: Long = 1000L,
      noiseW: Double = 0.25, twins: Boolean = true): Array[Float] = {
    val base = if (twins) twinBase(id) else id
    val cent = gauss(centSeed + base % 10)
    val noise = gauss(7000 + base)
    if (base == id) Array.tabulate(EmbDim)(i => (clusterW * cent(i) + noiseW * noise(i)).toFloat)
    else {
      val twin = gauss(9000 + id)
      Array.tabulate(EmbDim)(i =>
        (clusterW * cent(i) + noiseW * noise(i) + twin(i) * 0.15).toFloat)
    }
  }

  /** `n` twin-free vectors with ids from `idBase` (vec_id, embedding):
    * the family with a caller-set cluster weight. With the default
    * `centSeed` they share the base corpus's cluster identities and
    * only the mass moves (the drift scenario's sweep); another seed
    * family is a new domain (a new embedding model). */
  private[graft] def vectors(spark: org.apache.spark.sql.SparkSession, n: Int,
      idBase: Long, clusterW: Double, centSeed: Long = 1000L,
      noiseW: Double = 0.25): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { jid =>
      val id: Long = idBase + jid
      (id, embedding(id, clusterW, centSeed, noiseW, twins = false).toSeq)
    }.toDF("vec_id", "embedding")
  }

  // ---- media payload synthesis (deterministic, level-structured) ----

  private def rng(seed: Long) = new scala.util.Random(seed * 0x9e3779b97f4a7c15L + 101)

  /** 64 per-window signal levels — the envelope hash's direct
    * inputs. Twins re-roll `reroll` windows (indices 8..55, clear of
    * the header-dominated leading windows) with the TWIN's seed. */
  private def winLevels(gid: Long, lo: Int, span: Int,
      twinOf: Option[(Long, Int)]): Array[Int] = {
    val baseGid = twinOf.map(_._1).getOrElse(gid)
    val r = rng(baseGid * 3 + 7)
    val lv = Array.fill(64)(lo + r.nextInt(span))
    twinOf.foreach { case (_, k) =>
      val rt = rng(gid * 3 + 7)
      var i = 0
      while (i < k) { lv(8 + rt.nextInt(48)) = lo + rt.nextInt(span); i += 1 }
    }
    lv
  }

  /** (twin target, #re-rolled windows) for a class-local group id:
    * the planted-family rules documented at the call site. */
  private def twinPlan(gid: Long): Option[(Long, Int)] =
    if (gid % 41 == 1 && gid > 0) Some((gid - 1, 3))
    else if (gid % 41 == 2 && gid > 1) Some((gid - 2, 3)) // chain via g-2's base
    else if (gid % 59 == 5 && gid > 0) Some((gid - 1, 24))
    else None

  private def le16b(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32b(v: Long): Array[Byte] = Array((v & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def be32b(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private[graft] def mediaPayload(id: Long): Array[Byte] = {
    val gid = id / 3
    val plan = twinPlan(gid)
    (id % 3) match {
      case 0 => // real PNG: sig + IHDR(w,h) + level-structured body
        val srcGid = plan.map(_._1).getOrElse(gid)
        val rb = rng(srcGid * 3 + 11) // body length follows the base
        val bodyLen = 2048 + rb.nextInt(2048)
        val w = 256L + (srcGid % 512); val h = 256L + ((srcGid * 7) % 512)
        val head = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
            0, 0, 0, 13).map(_.toByte) ++
          "IHDR".getBytes ++ be32b(w) ++ be32b(h) ++
          Array[Byte](8, 2, 0, 0, 0) ++ be32b(0L) // depth/color/crc filler
        val n = head.length + bodyLen
        val lv = winLevels(gid, 20, 200, plan)
        val out = new Array[Byte](n)
        System.arraycopy(head, 0, out, 0, head.length)
        val rj = rng(srcGid * 5 + 13) // jitter follows the base (twins share it)
        var x = head.length
        while (x < n) {
          val wdw = (x.toLong * 64L / n).toInt
          out(x) = (math.min(255, math.max(0, lv(wdw) + rj.nextInt(9) - 4))).toByte
          x += 1
        }
        out
      case 2 => // real WAV: RIFF/fmt(16-bit PCM)/data, level-structured |PCM|
        val srcGid = plan.map(_._1).getOrElse(gid)
        val rb = rng(srcGid * 3 + 29)
        val nSamp = 4096 + rb.nextInt(4096)
        val rate = 8000L + (srcGid % 5) * 8000L
        val dataLen = nSamp * 2
        val head = "RIFF".getBytes ++ le32b(36L + dataLen) ++ "WAVE".getBytes ++
          "fmt ".getBytes ++ le32b(16L) ++ le16b(1) ++ le16b(1) ++
          le32b(rate) ++ le32b(rate * 2) ++ le16b(2) ++ le16b(16) ++
          "data".getBytes ++ le32b(dataLen.toLong)
        val lv = winLevels(gid, 500, 15000, plan)
        val out = new Array[Byte](head.length + dataLen)
        System.arraycopy(head, 0, out, 0, head.length)
        val rj = rng(srcGid * 5 + 31)
        var k = 0
        while (k < nSamp) {
          val wdw = (k.toLong * 64L / nSamp).toInt
          val amp = lv(wdw) + rj.nextInt(129) - 64
          val v = if (rj.nextBoolean()) amp else -amp
          val b = le16b(v & 0xffff)
          out(head.length + 2 * k) = b(0); out(head.length + 2 * k + 1) = b(1)
          k += 1
        }
        out
      case _ => // stub-class blob: printable bytes, jpeg stub class
        val srcGid = plan.map(_._1).getOrElse(gid)
        val rb = rng(srcGid * 3 + 47)
        val n = 512 + rb.nextInt(1024)
        val lv = winLevels(gid, 33, 93, plan) // printable 33..125
        val out = new Array[Byte](n)
        out(0) = '0'.toByte // 48 % 3 == 0 → jpeg stub class
        val rj = rng(srcGid * 5 + 53)
        var x = 1
        while (x < n) {
          val wdw = (x.toLong * 64L / n).toInt
          out(x) = (math.min(126, math.max(32, lv(wdw) + rj.nextInt(5) - 2))).toByte
          x += 1
        }
        out
    }
  }
}
