package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decoded metadata for one multimodal payload. */
case class MediaMeta(
    doc_id: Long, n_bytes: Long, byte_sum: Long,
    format: String, width: Long, height: Long)

/** Multimodal column plumbing (SURVEY §2.G): media as opaque binary
  * columns + typed metadata, feature extraction via batched
  * per-partition iteration.
  *
  * Genuine PNG, JPEG, and WAV payloads get REAL byte-level metadata:
  * PNG IHDR / JPEG SOF0/2 width-height and RIFF fmt-chunk sample-
  * rate/channel parsing is pure byte arithmetic and needs no codec.
  * Payloads that are none of the three fall back to a deterministic
  * stub (full pixel/sample decode would need a codec, absent in this
  * container) so the plumbing stays total and oracle-checkable: the
  * test corpus is ASCII text, whose first byte is < 0x80 and can
  * never match the PNG (0x89...) or JPEG (0xFF 0xD8) signatures, and
  * whose lowercase vocabulary can never spell "RIFF????WAVEfmt " —
  * the oracle-compared query exercises exactly the stub arithmetic,
  * while MultimodalSpec feeds synthesized real headers through the
  * same mapPartitions plumbing.
  *
  * Scale: mapPartitions keeps decode zero-copy per executor; binary
  * payloads stay columnar in parquet until the iterator touches
  * them. No shuffle — the operator is embarrassingly parallel.
  */
object Multimodal {

  private def u8(b: Byte): Int = b & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b(i)).toLong << 24) | (u8(b(i + 1)).toLong << 16) |
      (u8(b(i + 2)).toLong << 8) | u8(b(i + 3)).toLong
  private def be16(b: Array[Byte], i: Int): Int = (u8(b(i)) << 8) | u8(b(i + 1))

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** PNG: 8-byte signature, 4-byte chunk length, "IHDR", then
    * width/height as 4-byte big-endian at offsets 16 and 20. */
  private def pngMeta(b: Array[Byte]): Option[(Long, Long)] =
    if (b.length >= 24 && PngSig.indices.forall(i => u8(b(i)) == PngSig(i)) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some((be32(b, 16), be32(b, 20)))
    else None

  /** JPEG SOF markers carry the frame size: C0-CF minus C4 (DHT),
    * C8 (JPG extension), CC (DAC). */
  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** JPEG: SOI (FF D8), then marker segments `FF <marker> <len:be16>
    * <payload>`; walk segments to the first SOF, whose payload is
    * precision(1), height(be16), width(be16). Standalone markers
    * (TEM, RST0-7) have no length field; FF fill bytes are skipped.
    * Any structural violation (truncation, lost marker alignment,
    * EOI before SOF) abandons the parse → stub fallback. */
  private def jpegMeta(b: Array[Byte]): Option[(Long, Long)] = {
    if (b.length < 4 || u8(b(0)) != 0xff || u8(b(1)) != 0xd8) return None
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b(i)) != 0xff) return None
      val marker = u8(b(i + 1))
      if (marker == 0xff) i += 1 // fill byte
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) i += 2
      else if (marker == 0xd9) return None // EOI before any SOF
      else {
        val len = be16(b, i + 2)
        if (len < 2 || i + 2 + len > b.length) return None // truncated segment
        if (isSof(marker)) {
          if (len < 7) return None // SOF payload too short for a size
          return Some((be16(b, i + 7).toLong, be16(b, i + 5).toLong))
        }
        i += 2 + len
      }
    }
    None
  }

  private def le32(b: Array[Byte], i: Int): Long =
    u8(b(i)).toLong | (u8(b(i + 1)).toLong << 8) |
      (u8(b(i + 2)).toLong << 16) | (u8(b(i + 3)).toLong << 24)
  private def le16(b: Array[Byte], i: Int): Int = u8(b(i)) | (u8(b(i + 1)) << 8)

  /** WAV (RIFF): "RIFF" <size:le32> "WAVE", then a CHUNK WALK to the
    * "fmt " chunk — spec-valid files may carry JUNK/LIST/bext chunks
    * first, and hardcoding fmt at offset 12 silently stubbed those
    * with fabricated metadata. Within fmt: channels le16 at +2,
    * sample rate le32 at +4 of the chunk payload. The walk is
    * bounded (64 hops) and total: any truncated/undersized chunk
    * abandons the parse → stub fallback. The audio member of the
    * real-header family: for audio payloads the two metadata axes
    * (width, height) carry (sample_rate, n_channels). The 12-byte
    * magic ("RIFF????WAVE") cannot occur in the ASCII test corpus
    * (lowercase vocabulary), so the oracle keeps exercising the stub
    * while MultimodalSpec feeds genuine headers. */
  private def wavMeta(b: Array[Byte]): Option[(Long, Long)] = {
    if (b.length < 12 ||
        !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
        !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    // offsets advance in Long: a hostile declared chunk size near
    // Int.MaxValue must walk off the end (→ stub), never wrap an Int
    // into a negative index
    var i = 12L
    var hops = 0
    while (i + 8 <= b.length && hops < 64) {
      val p = i.toInt
      val size = le32(b, p + 4)
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        // need the payload only through the rate field (+4..+7);
        // requiring the full declared 16 bytes would reject streams
        // truncated right after the metadata this parser reads
        if (size < 16 || i + 16 > b.length) return None
        return Some((le32(b, p + 12), le16(b, p + 10).toLong))
      }
      i += 8L + size + (size & 1L) // RIFF chunks are word-aligned
      hops += 1
    }
    None
  }

  /** STUB decoder for payloads that are not real PNG/JPEG/WAV streams:
    * deterministic fake features from raw bytes. `bytes(0) & 0xff`
    * (not the raw signed byte) so a payload whose first byte is
    * >= 0x80 classifies like the oracle's ascii() codepoint on the
    * ASCII corpus instead of going negative; a zero-length payload
    * is its own format rather than an ArrayIndexOutOfBounds. */
  private def stubDecode(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    var i = 0
    var sum = 0L
    while (i < n) { sum += (bytes(i) & 0xff); i += 1 }
    val format =
      if (n == 0) "empty"
      else ((bytes(0) & 0xff) % 3) match {
        case 0 => "jpeg"
        case 1 => "png"
        case _ => "wav"
      }
    MediaMeta(id, n.toLong, sum, format, 64L + n % 512, 64L + sum % 512)
  }

  /** Total decode: real header parse for PNG/JPEG/WAV, stub otherwise. */
  private[graft] def decode(id: Long, bytes: Array[Byte]): MediaMeta =
    pngMeta(bytes) match {
      case Some((w, h)) =>
        val base = stubDecode(id, bytes)
        base.copy(format = "png", width = w, height = h)
      case None =>
        jpegMeta(bytes) match {
          case Some((w, h)) =>
            val base = stubDecode(id, bytes)
            base.copy(format = "jpeg", width = w, height = h)
          case None =>
            wavMeta(bytes) match {
              case Some((rate, ch)) =>
                val base = stubDecode(id, bytes)
                base.copy(format = "wav", width = rate, height = ch)
              case None => stubDecode(id, bytes)
            }
        }
    }

  /** The decode plumbing over any (id, payload) dataset — shared by
    * q70 and MultimodalSpec's synthesized-header tests so the spec
    * exercises the exact executor path. */
  private[graft] def decodeDs(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) => decode(id, bytes) }).toDF()
  }

  /** Binary payload → decoded metadata via mapPartitions. */
  def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeDs(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])])
      .orderBy("doc_id")
  }

  /** The stub-decode metadata restated over DuckDB's ascii() — ONE
    * fragment (the JaccThr pattern) shared by the q70/q156/q158
    * oracles so the three can never drift from each other. On the
    * ASCII corpus char == byte, and no ASCII payload can carry a
    * PNG (0x89...) / JPEG (0xFF D8) signature or spell "RIFF", so
    * the oracle exercises exactly the stub arithmetic. */
  private val MediaMetaSql =
    """SELECT doc_id, strlen(text) AS n_bytes,
       coalesce(list_sum(list_transform(range(1, strlen(text)+1), i -> ascii(text[i]))), 0) AS byte_sum,
       CASE WHEN strlen(text) = 0 THEN 'empty'
            ELSE CASE ascii(text[1]) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'wav' END END AS format,
       64 + strlen(text) % 512 AS width,
       64 + coalesce(list_sum(list_transform(range(1, strlen(text)+1), i -> ascii(text[i]))), 0) % 512 AS height
       FROM documents"""

  /** The stub features are byte arithmetic, so the oracle can verify
    * the full plumbing end-to-end. */
  private val q70Sql =
    s"""SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(byte_sum AS BIGINT) AS byte_sum, format,
       CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height
       FROM ($MediaMetaSql) ORDER BY doc_id"""

  /** Extracted features for one payload: byte-distribution stats, a
    * 16-cell downsample ("thumbnail"), and 8 evenly-spaced byte
    * samples ("frame samples") — comma-joined so both engines emit
    * one canonical string form. */
  case class MediaFeatures(
      doc_id: Long, n_bytes: Long, n_distinct_bytes: Int,
      mode_byte: Int, mode_count: Long, thumb16: String, sample8: String)

  /** Feature extraction over a binary payload: the resize /
    * frame-sample step of a media pipeline, restated as codec-free
    * integer byte arithmetic so the whole path (including the
    * batched per-partition plumbing a real decoder would plug into)
    * is oracle-verifiable. thumb16[j] = floor-mean of byte chunk
    * [j·n/16, (j+1)·n/16) — exactly an area-average downsample of a
    * 1-D signal; sample8[i] = byte at offset i·n/8 — exactly
    * fixed-stride frame sampling. mode tie-breaks to the lowest
    * byte value; all arithmetic is integer, so no float drift can
    * split the engines. */
  private[graft] def features(id: Long, b: Array[Byte]): MediaFeatures = {
    val n = b.length
    val cnt = new Array[Long](256)
    var i = 0
    while (i < n) { cnt(b(i) & 0xff) += 1; i += 1 }
    var nd = 0
    var mb = -1
    var mc = 0L
    var v = 0
    while (v < 256) {
      if (cnt(v) > 0) {
        nd += 1
        if (cnt(v) > mc) { mc = cnt(v); mb = v } // first max = lowest byte
      }
      v += 1
    }
    val thumb = (0 until 16).map { j =>
      val lo = j * n / 16
      val hi = (j + 1) * n / 16
      if (hi > lo) {
        var ssum = 0L
        var x = lo
        while (x < hi) { ssum += (b(x) & 0xff); x += 1 }
        ssum / (hi - lo)
      } else 0L
    }
    val samples = (0 until 8).map(j => if (n > 0) (b(j * n / 8) & 0xff).toLong else 0L)
    MediaFeatures(id, n.toLong, nd, mb, mc, thumb.mkString(","), samples.mkString(","))
  }

  private[graft] def featuresDs(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { case (id, bytes) => features(id, bytes) }).toDF()
  }

  /** Binary payload → extracted features via mapPartitions; same
    * embarrassingly-parallel shape as q70 (no shuffle, columnar
    * binary until the iterator touches it). */
  def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    featuresDs(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])])
      .orderBy("doc_id")
  }

  /** ASCII corpus: char == byte, so the byte features are spellable
    * over ascii(text[i]). The mode is list_max over [count, -byte]
    * pairs — lexicographic max = highest count, ties to the LOWEST
    * byte, matching the Scala scan order. */
  private val q73Sql =
    """WITH d AS (SELECT doc_id, strlen(text) AS n,
             list_transform(range(1, strlen(text)+1), i -> ascii(text[i])) AS lb
           FROM documents),
       m AS (SELECT doc_id, n, lb,
               len(list_distinct(lb)) AS nd,
               coalesce(list_max(list_transform(list_distinct(lb),
                 u -> [len(list_filter(lb, x -> x = u)), -u])), [0, 1]) AS mx
             FROM d)
       SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
         CAST(nd AS INT) AS n_distinct_bytes,
         CAST(-mx[2] AS INT) AS mode_byte,
         CAST(mx[1] AS BIGINT) AS mode_count,
         array_to_string(list_transform(range(0,16), j ->
           CASE WHEN (j+1)*n//16 > j*n//16
                THEN list_sum(lb[j*n//16+1 : (j+1)*n//16]) // ((j+1)*n//16 - j*n//16)
                ELSE 0 END), ',') AS thumb16,
         array_to_string(list_transform(range(0,8), j ->
           CASE WHEN n > 0 THEN lb[j*n//8 + 1] ELSE 0 END), ',') AS sample8
       FROM m ORDER BY doc_id"""

  /** 64-bit perceptual hash (aHash) of a binary payload: the 8×8
    * average-hash of image dedup restated over the 1-D byte signal —
    * a 64-cell area-average downsample (the SAME primitive as q73's
    * thumb16, at 64 cells), then bit j = [cell_j > floor-mean of the
    * 64 cells]. Integer arithmetic throughout, so the hash is
    * deterministic across engines and partitionings. A real image
    * pipeline swaps the byte signal for decoded luma pixels; the
    * hash/banding machinery downstream is unchanged. */
  private[graft] def phash64(b: Array[Byte]): Long =
    envelope64(b.length, i => (b(i) & 0xff).toLong)

  /** The shared 64-cell envelope core of [[phash64]] (image, byte
    * signal) and [[ehash64]] (audio, |amplitude| signal): 64-window
    * floor-mean downsample, bit j = [cell_j > floor-mean of cells].
    * Integer throughout — deterministic across engines/partitions. */
  private def envelope64(n: Int, at: Int => Long): Long = {
    val cells = new Array[Long](64)
    var j = 0
    while (j < 64) {
      val lo = j * n / 64
      val hi = (j + 1) * n / 64
      if (hi > lo) {
        var s = 0L
        var x = lo
        while (x < hi) { s += at(x); x += 1 }
        cells(j) = s / (hi - lo)
      }
      j += 1
    }
    var tot = 0L
    j = 0
    while (j < 64) { tot += cells(j); j += 1 }
    val mean = tot / 64
    var h = 0L
    j = 0
    while (j < 64) { if (cells(j) > mean) h |= 1L << j; j += 1 }
    h
  }

  /** Image near-dup hamming cutoff for [[q155]]: ≤ 8 keeps the
    * 10-block banding's recall GUARANTEE (pigeonhole); at 64 bits
    * that is the usual ~12% distortion budget of aHash dedup. */
  private[graft] val PhashHam = 8

  /** The near-dup family's payload source: a deployment's media
    * lives in a BINARY `media.parquet` (doc_id, payload) table —
    * probed when present, so real PNG/WAV byte streams (GenData's
    * media mode) flow through the REAL decode paths at stress scale.
    * The driver corpora ship no media table, so there the documents'
    * text bytes stand in (the stub class), exactly as before —
    * q70/q73/q156/q158 stay on the documents table unconditionally
    * (their oracles pin the stub arithmetic). */
  private[graft] def payloads(s: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    val mp = s"$dir/media.parquet"
    if (graft.sources.Sources.exists(s, mp))
      s.read.parquet(mp).select(col("doc_id"), col("payload"))
        .as[(Long, Array[Byte])]
    else Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** PERCEPTUAL-HASH IMAGE NEAR-DUP — q43's guaranteed-recall
    * block-combination banding ([[Dedup.hamming64Pairs]]) over
    * [[phash64]] instead of the token simhash: the banding geometry
    * only sees 64 bits and does not care what they summarize. Only
    * image-classified payloads (PNG/JPEG, real header or stub class)
    * enter the join — an audio/empty payload sharing byte statistics
    * with an image is not a duplicate of it.
    *
    * Scale shape: one embarrassingly-parallel decode+hash pass
    * (8 bytes per image retained), then the banding self-join whose
    * skew/match-multiplication handling is exactly q43's (shuffle
    * merge on the 45 combo keys, canonical-combo dedup predicate —
    * no pair-distinct shuffle). Hash-dependent → rows-only;
    * MultimodalSpec plants twins under synthesized real PNG headers
    * and asserts exhaustive recall. */
  def q155(s: SparkSession, dir: String): DataFrame =
    q155Of(payloads(s, dir))

  /** [[q155]] with a dedup-domain SCOPE (per-source / ingestion-window
    * sharding — the production path past the banding join's ≥10⁶
    * images-per-domain emission floor, SURVEY §15): `scope` is any
    * Column over the hash frame's (doc_id, simhash). Pairs are
    * emitted within each scope only and carry their scope
    * ([[Dedup.hamming64Pairs]]'s cross-scope contract). */
  def q155(s: SparkSession, dir: String, scope: Column): DataFrame =
    q155Of(payloads(s, dir), Some(scope))

  /** Image phash frame (doc_id, phash) over any payload dataset: ONE
    * decode+hash pass keeping 8 B per image — the shared front of
    * q155/q171 and the axis the incremental build PERSISTS
    * ([[graft.BuildCorpus]] phashes/phashdelta) so increments probe
    * admitted-image families without re-decoding the base corpus. */
  private[graft] def imageHashes(ds: Dataset[(Long, Array[Byte])]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val m = decode(id, bytes)
      if (m.format == "png" || m.format == "jpeg") Some((id, phash64(bytes)))
      else None
    }).toDF("doc_id", "phash")
  }

  /** q155 core over any (id, payload) dataset — shared with the
    * planted-twin spec so it exercises the exact executor path. */
  private[graft] def q155Of(ds: Dataset[(Long, Array[Byte])],
      scope: Option[Column] = None): DataFrame = {
    val hashed = imageHashes(ds).withColumnRenamed("phash", "simhash")
    Dedup.hamming64Pairs(scope.fold(hashed)(c => hashed.withColumn("scope", c)),
      PhashHam)
  }

  /** Real-WAV PCM sample extraction: the same bounded chunk walk as
    * [[wavMeta]], but reading BOTH the fmt chunk (bits-per-sample at
    * +14 of the fmt payload) and the data chunk (interleaved PCM
    * frames). 16-bit samples decode signed little-endian, 8-bit as
    * unsigned offset-128 — the WAV spec's two integer PCM widths;
    * any other width, or a missing fmt/data chunk, abandons the
    * parse (→ the caller's byte-signal fallback). Returns ABSOLUTE
    * amplitudes: the envelope hash summarizes energy, for which
    * channel interleave and sign are irrelevant. A data chunk whose
    * declared size overruns the buffer is clamped to the available
    * bytes — truncated tails still hash deterministically. */
  private[graft] def wavSamples(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length < 12 ||
        !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') ||
        !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var i = 12L
    var hops = 0
    var bits = -1
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= b.length && hops < 64 && (bits < 0 || dataOff < 0)) {
      val p = i.toInt
      val size = le32(b, p + 4)
      if (b(p) == 'f' && b(p + 1) == 'm' && b(p + 2) == 't' && b(p + 3) == ' ') {
        // bits-per-sample sits at payload +14..+15: require the full
        // 16-byte PCM fmt payload (wavMeta's looser rate-only read is
        // not enough here)
        if (size < 16 || i + 24 > b.length) return None
        bits = le16(b, p + 22)
      } else if (b(p) == 'd' && b(p + 1) == 'a' && b(p + 2) == 't' && b(p + 3) == 'a') {
        dataOff = p + 8
        dataLen = math.min(size, b.length - (i + 8L)).toInt
      }
      i += 8L + size + (size & 1L)
      hops += 1
    }
    if (bits < 0 || dataOff < 0 || dataLen < 0) return None
    bits match {
      case 16 =>
        val n = dataLen / 2
        val out = new Array[Int](n)
        var k = 0
        while (k < n) {
          val v = (le16(b, dataOff + 2 * k) << 16) >> 16 // sign-extend
          out(k) = math.abs(v)
          k += 1
        }
        Some(out)
      case 8 =>
        val out = new Array[Int](dataLen)
        var k = 0
        while (k < dataLen) { out(k) = math.abs((b(dataOff + k) & 0xff) - 128); k += 1 }
        Some(out)
      case _ => None
    }
  }

  /** 64-bit energy-envelope hash of an amplitude stream — [[phash64]]'s
    * exact arithmetic over |PCM| instead of raw bytes. */
  private[graft] def ehash64(amps: Array[Int]): Long =
    envelope64(amps.length, i => amps(i).toLong)

  /** Audio near-dup hamming cutoff: same pigeonhole bound as images. */
  private[graft] val EhashHam = 8

  /** AUDIO ENVELOPE NEAR-DUP — the audio member of the perceptual
    * near-dup family (q155 is the image member): only audio-classified
    * payloads enter; real WAVs hash their DECODED PCM energy envelope
    * ([[wavSamples]] → [[ehash64]] — genuine sample-level decode, no
    * codec needed for integer PCM), stub-class payloads fall back to
    * the raw byte signal so the operator stays total on mixed corpora.
    * Pairing is the shared guaranteed-recall 10-block banding
    * ([[Dedup.hamming64Pairs]]).
    *
    * Scale shape: one embarrassingly-parallel decode+hash pass (8
    * bytes retained per clip), then q43's banding join — identical
    * skew/match-multiplication story. Hash-dependent → rows-only;
    * MultimodalSpec plants perturbed-PCM twins under real WAV headers
    * and asserts exhaustive hamming recall + no cross-modal leakage. */
  def q157(s: SparkSession, dir: String): DataFrame =
    q157Of(payloads(s, dir))

  /** [[q157]] with a dedup-domain SCOPE — the q155 scoping story on
    * the audio axis (same contract, same SURVEY §15 measurements). */
  def q157(s: SparkSession, dir: String, scope: Column): DataFrame =
    q157Of(payloads(s, dir), Some(scope))

  /** q157 core over any (id, payload) dataset — shared with the
    * planted-twin spec so it exercises the exact executor path. */
  private[graft] def q157Of(ds: Dataset[(Long, Array[Byte])],
      scope: Option[Column] = None): DataFrame = {
    import ds.sparkSession.implicits._
    val hashed = ds.mapPartitions(_.flatMap { case (id, bytes) =>
      val m = decode(id, bytes)
      if (m.format == "wav") {
        val amps = wavSamples(bytes).getOrElse {
          val out = new Array[Int](bytes.length)
          var k = 0
          while (k < bytes.length) { out(k) = bytes(k) & 0xff; k += 1 }
          out
        }
        Some((id, ehash64(amps)))
      } else None
    }).toDF("doc_id", "simhash")
    Dedup.hamming64Pairs(scope.fold(hashed)(c => hashed.withColumn("scope", c)),
      EhashHam)
  }

  /** MODALITY BUDGET REPORT — the bytes-accounting view a multimodal
    * training run plans against: per detected format, payload count,
    * total bytes, and the format's integer-ppm share of corpus bytes,
    * plus summed metadata axes (pixels for images, rate/channels for
    * audio — exact integers, so the whole report is drift-free).
    * The ppm multiply routes through DECIMAL(38,0): at 100 TB,
    * total_bytes × 1e6 overflows a long (the q142 wrap/raise
    * asymmetry), while doc counts stay comfortably inside it.
    *
    * Scale shape: one map-side-combined hash agg over the decode
    * pass (≤ a handful of format groups cross the shuffle), windows
    * only over that tiny frame. Oracle-compared end-to-end on the
    * stub arithmetic via the shared [[MediaMetaSql]] fragment. */
  def q158(s: SparkSession, dir: String): DataFrame = {
    q70(s, dir)
      .groupBy("format")
      .agg(
        count(lit(1)).as("n_payloads"),
        sum("n_bytes").as("total_bytes"),
        sum("width").as("sum_width"),
        sum("height").as("sum_height"))
      .withColumn("bytes_ppm", expr(
        "CAST((CAST(total_bytes AS DECIMAL(38,0)) * 1000000) div sum(total_bytes) OVER () AS BIGINT)"))
      .orderBy("format")
  }

  private val q158Sql =
    s"""WITH med AS ($MediaMetaSql)
       SELECT format, CAST(count(*) AS BIGINT) AS n_payloads,
         CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         CAST(sum(width) AS BIGINT) AS sum_width,
         CAST(sum(height) AS BIGINT) AS sum_height,
         CAST((sum(n_bytes)::HUGEINT * 1000000)
              // (SELECT sum(n_bytes) FROM med) AS BIGINT) AS bytes_ppm
       FROM med GROUP BY format ORDER BY format"""

  /** [[q156]] gates, shared with the oracle SQL: captions must score
    * ≥ CapQual on q60's quality and media must be an image with both
    * dimensions ≥ MinDim. One constant each (the JaccThr pattern). */
  private[graft] val CapQual = "0.5"
  private[graft] val MinDim = 128

  /** CROSS-MODAL GATE — the caption×image admission filter of a
    * multimodal training pipeline: a (doc, payload) pair survives
    * only if the CAPTION side passes text quality (q60's score ≥
    * [[CapQual]]) AND the MEDIA side is a valid image (PNG/JPEG with
    * both dimensions ≥ [[MinDim]]). Emits the per-pair verdict with
    * both per-modality flags, so the report also says WHICH modality
    * killed a pair — the number a curation run tunes thresholds on.
    *
    * Scale shape: two map-only frames over the same table (text
    * scoring; header decode) equi-joined on doc_id — no cartesian,
    * no skew (doc_id is unique on both sides), shuffle bounded by
    * one row per doc per side. Oracle-compared end-to-end: on the
    * ASCII corpus the decode is exactly the stub arithmetic, and
    * quality reuses q60's shared SQL fragment. */
  def q156(s: SparkSession, dir: String): DataFrame = {
    val cap = TextOps.q60(s, dir).select(col("doc_id"), col("quality_score"))
    val media = q70(s, dir).select(col("doc_id"), col("format"), col("width"), col("height"))
    cap.join(media, Seq("doc_id"))
      .select(col("doc_id"),
        (col("quality_score") >= CapQual.toDouble).as("caption_ok"),
        (col("format").isin("png", "jpeg") &&
          least(col("width"), col("height")) >= MinDim).as("media_ok"))
      .withColumn("kept", col("caption_ok") && col("media_ok"))
      .orderBy("doc_id")
  }

  private val q156Sql =
    s"""WITH cap AS (SELECT doc_id, ${TextOps.QualityScoreSql} AS q
         FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x<>'') AS tk
               FROM documents)),
       med AS ($MediaMetaSql)
       SELECT cap.doc_id, cap.q >= $CapQual AS caption_ok,
         med.format IN ('png','jpeg') AND least(med.width, med.height) >= $MinDim AS media_ok,
         cap.q >= $CapQual AND med.format IN ('png','jpeg')
           AND least(med.width, med.height) >= $MinDim AS kept
       FROM cap JOIN med ON cap.doc_id = med.doc_id
       ORDER BY cap.doc_id"""

  /** q171 — IMAGE FAMILY FORMATION: q65's component step for the
    * image axis. q155 emits pairwise phash matches; a crawl's real
    * unit of image duplication is the FAMILY (the same logo
    * re-encoded across thousands of pages chains through
    * intermediate variants), so the pairs are closed into connected
    * components via the one tuned propagation loop
    * ([[Dedup.propagateLabels]] — HashMin + lagged pointer jumping)
    * and every image-classified doc gets its family id, family
    * size, and the canonical-keep verdict (min doc_id — q65's rule).
    * Singleton images never enter the loop: the edge-sized label
    * frame left-joins back onto the hash pass (q167's idiom).
    *
    * Scale shape: one decode+hash pass (checkpointed — 16 B/row,
    * consumed by the banding join AND the final left join), the q43
    * banding machinery, then an edge-sized iteration. Hash-dependent
    * → rows-only; MultimodalSpec union-finds q155's own pairs and
    * plants a chained twin family under synthesized PNG headers. */
  def q171(s: SparkSession, dir: String): DataFrame =
    q171Of(payloads(s, dir))

  /** [[q171]] with a dedup-domain SCOPE: pairing (and therefore
    * family formation) happens within each scope only — a family
    * spanning two ingestion windows keeps one canonical PER WINDOW
    * (the [[Dedup.hamming64Pairs]] cross-scope contract; callers
    * needing global families close scopes on another axis). */
  def q171(s: SparkSession, dir: String, scope: Column): DataFrame =
    q171Of(payloads(s, dir), Some(scope))

  /** q171 core over any (id, payload) dataset — spec entry point. */
  private[graft] def q171Of(ds: Dataset[(Long, Array[Byte])],
      scope: Option[Column] = None): DataFrame = {
    val imgs0 = imageHashes(ds).withColumnRenamed("phash", "simhash")
    q171OfHashes(scope.fold(imgs0)(c => imgs0.withColumn("scope", c)))
  }

  /** q171's family machinery over an ALREADY-HASHED image frame
    * (doc_id, simhash[, scope]) — the build jobs hash once and feed
    * both the family step and the persisted phash artifact. */
  private[graft] def q171OfHashes(imgs0: DataFrame): DataFrame = {
    val imgs = imgs0.localCheckpoint(false)
    val pairs = Dedup.hamming64Pairs(imgs, PhashHam)
      .select("d1", "d2").localCheckpoint(false)
    val labels = Dedup.propagateLabels(pairs, imgs0.sparkSession)
    val sizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("family_size"), min("doc_id").as("keep_id"))
      .withColumnRenamed("cluster_id", "family_id")
    imgs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("family_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("family_id"), "left")
      .select(col("doc_id"), col("family_id"),
        coalesce(col("family_size"), lit(1L)).as("family_size"),
        (col("doc_id") === coalesce(col("keep_id"), col("doc_id"))).as("is_canonical"))
      .orderBy("doc_id")
  }

  val qs: Seq[Q] = Seq(
    Q("q70_multimodal_meta", q70, Some(q70Sql)),
    Q("q73_media_features", q73, Some(q73Sql)),
    Q("q155_phash_neardup", q155, None),
    Q("q156_crossmodal_gate", q156, Some(q156Sql)),
    Q("q157_wav_neardup", q157, None),
    Q("q158_modality_budget", q158, Some(q158Sql)),
    Q("q171_image_families", q171, None))
}
