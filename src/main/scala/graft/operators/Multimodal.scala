package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2 group F): image/audio/video
  * travel as opaque `binary` columns with typed metadata. Eight REAL
  * executor-side decoder families cover the wire disciplines — PGM
  * (ASCII header + raw plane), BMP (little-endian fixed-offset headers,
  * bottom-up padded BGR rows), RIFF/WAV (chunk walk), a multi-frame
  * container (header-walk frame seeking), JPEG/JFIF incl. progressive
  * SOF2 (entropy-coded lossy: Huffman + DCT + restarts, [[Jpeg]]), PNG
  * (compressed lossless: CRC-gated chunks + JDK-zlib + predictive
  * filters, [[Png]]), FLAC (Rice-coded lossless audio with stereo
  * decorrelation, [[Flac]]), and GIF (LZW + interlace, [[Gif]]). Only
  * perceptual-audio codecs (MP3/AAC) genuinely need a third-party
  * library; a deployment adds one as another `decode<Fmt>` entry point
  * over [[MMRecord]] (or an Arrow batch UDF) without touching the
  * surrounding plan, exactly as the eight real decoder families do.
  */
object Multimodal {

  /** Sanity cap on decoded image dimensions: headers claiming more are
    * treated as malformed (dead-letter). Pixel-plane sizes are still
    * computed in Long and bounds-checked against the payload before any
    * narrowing to Int.
    */
  val MaxDim = 1 << 16

  /** An opaque media payload plus its id. */
  case class MMRecord(doc_id: Long, payload: Array[Byte])

  // -------------------------------------------------------------- real PGM

  /** Decoded grayscale image features. */
  case class PgmFeatures(doc_id: Long, width: Int, height: Int,
                         n_pixels: Int, mean_gray: Double)

  /** A REAL binary image decoder — PGM "P5" (binary grayscale), a pure
    * bytes-on-the-wire format needing no codec library: magic, ASCII
    * dimensions and maxval, one whitespace, then `w*h` raw pixel bytes.
    * Returns None on any malformed payload (dead-letter, never throw — the
    * same poisoned-message discipline as the capnp decoder).
    */
  def decodePgm(docId: Long, b: Array[Byte]): Option[PgmFeatures] = {
    var i = 0
    def skipWs(): Unit = {
      while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    }
    // Accumulates in Long and poisons on Int overflow instead of wrapping:
    // a crafted header like "4294967297" must read as invalid, not as 1.
    def readInt(): Int = {
      skipWs()
      var v = -1L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = (if (v < 0) 0L else v) * 10 + (b(i) - '0'); i += 1
        if (v > Int.MaxValue) v = Int.MaxValue.toLong + 1
      }
      if (v > Int.MaxValue) -2 else v.toInt
    }
    if (b.length < 2 || b(0) != 'P' || b(1) != '5') return None
    i = 2
    val w = readInt(); val h = readInt(); val maxVal = readInt()
    if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim ||
        maxVal <= 0 || maxVal > 255) return None
    i += 1 // exactly one whitespace after maxval, then raw bytes
    // w*h in Int can overflow negative (e.g. w=2147483640, h=1 slips the
    // bounds check and the pixel loop reads past the array) — size in Long.
    val nL = w.toLong * h
    if (i.toLong + nL > b.length) return None
    val n = nL.toInt
    var sum = 0L
    var p = 0
    while (p < n) { sum += (b(i + p) & 0xff); p += 1 }
    Some(PgmFeatures(docId, w, h, n, sum.toDouble / n))
  }

  /** Deterministic synthetic PGM payload: dimensions and every pixel are
    * closed-form functions of the id, so an oracle can compute the decoded
    * statistics analytically WITHOUT parsing — if the parser mis-reads the
    * header or pixel plane, the values cannot match.
    */
  def syntheticPgm(docId: Long): Array[Byte] = {
    val w = (8 + docId % 9).toInt
    val h = (8 + docId % 7).toInt
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = 0
    while (p < w * h) {
      out(header.length + p) = ((docId * 31 + p.toLong * 7) % 256).toByte
      p += 1
    }
    out
  }

  /** Real decode over a payload column; malformed rows are dropped
    * (dead-letter semantics), well-formed rows yield exact pixel stats.
    */
  def extractPgm(spark: SparkSession, df: DataFrame,
                 idCol: String, payloadCol: String): Dataset[PgmFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => decodePgm(r.doc_id, r.payload)))
  }

  /** Perceptual difference hash (dHash) of a PGM payload — the image-dedup
    * primitive (near-identical images differ in a few bits; identical
    * images collide exactly): the plane is nearest-neighbor sampled onto a
    * 9×8 grid (the [[resizePgm]] grid arithmetic) and bit (oy·8+ox) is set
    * iff the sampled gray increases left→right — 64 gradient signs, robust
    * to uniform brightness shifts. Malformed payloads return None
    * (dead-letter), same contract as every decoder behind this seam.
    */
  def dhashPgm(docId: Long, b: Array[Byte]): Option[Long] =
    decodePgm(docId, b).map { f =>
      // re-locate the pixel plane (decodePgm validated the header)
      var i = 2
      var seen = 0
      while (seen < 3) {
        while (i < b.length && !(b(i) >= '0' && b(i) <= '9')) i += 1
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        seen += 1
      }
      i += 1
      def px(ox: Int, oy: Int): Int = {
        val sx = ox * f.width / 9
        val sy = oy * f.height / 8
        b(i + sy * f.width + sx) & 0xff
      }
      var hash = 0L
      var oy = 0
      while (oy < 8) {
        var ox = 0
        while (ox < 8) {
          if (px(ox, oy) < px(ox + 1, oy)) hash |= 1L << (oy * 8 + ox)
          ox += 1
        }
        oy += 1
      }
      hash
    }

  /** (row_id, dhash) over a payload column; malformed rows dead-letter. */
  def extractDhash(spark: SparkSession, df: DataFrame,
                   idCol: String, payloadCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => dhashPgm(r.doc_id, r.payload).map(h => (r.doc_id, h))))
      .toDF("row_id", "dhash")
  }

  /** Band explode of a (row_id, hash) table: one row per (band k, band key),
    * plus the disk routing bucket `pb = k·nBuckets + (key mod nBuckets)`.
    */
  private def bandHashes(hashes: DataFrame, hashCol: String, bandBits: Int,
                         nBands: Int, nBuckets: Int): DataFrame =
    hashes.select(col("row_id"), col(hashCol).as("h"),
      explode(expr(s"sequence(0, ${nBands - 1})")).as("k"))
      .withColumn("key",
        expr(s"shiftright(h, k * $bandBits) & ${(1L << bandBits) - 1}"))
      .withColumn("pb",
        (col("k") * nBuckets + pmod(col("key"), lit(nBuckets.toLong))).cast("int"))

  /** Disk band index over perceptual hashes ([[dhashPgm]] /
    * [[fingerprintWav]] outputs) — the incremental MEDIA-admission posture,
    * hash edition of `NearDupScreen.writeIndex`: the archive's
    * (row_id, hash) table lands partitioned by pb, so a new media batch
    * probes only the partitions its own band keys hash into and admission
    * cost tracks the BATCH, not the archive.
    */
  def writeHashIndex(hashes: DataFrame, path: String, hashCol: String = "dhash",
                     bandBits: Int = 16, nBands: Int = 4,
                     nBuckets: Int = 64): Unit =
    bandHashes(hashes, hashCol, bandBits, nBands, nBuckets)
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(path)

  /** Probe a [[writeHashIndex]] layout with a (small) batch of hashes: the
    * collected pb set is routing metadata (≤ |batch|·nBands ints), the
    * `isin` lands in the scan's `PartitionFilters`, and within-bucket work
    * is the f11/f12 discipline — exact hamming on band-key-equal candidates.
    * Output: (row_id, corpus_id, hamming ≤ maxHamming), materialized with
    * the internal banded cache released (the probeIndex contract).
    */
  def probeHashIndex(spark: SparkSession, path: String, batch: DataFrame,
                     hashCol: String = "dhash", maxHamming: Int = 2,
                     bandBits: Int = 16, nBands: Int = 4,
                     nBuckets: Int = 64): DataFrame = {
    val banded = bandHashes(batch, hashCol, bandBits, nBands, nBuckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pbs = banded.select("pb").distinct().collect().map(_.getInt(0))
    val idx = spark.read.parquet(path)
      .filter(col("pb").isin(pbs.map(Integer.valueOf): _*))
    val out = banded.as("q").join(idx.as("c"),
        col("q.k") === col("c.k") && col("q.key") === col("c.key") &&
          col("q.row_id") =!= col("c.row_id"))
      .select(col("q.row_id").as("row_id"), col("c.row_id").as("corpus_id"),
        col("q.h").as("qh"), col("c.h").as("ch"))
      .distinct()
      .withColumn("hamming", expr("cast(bit_count(qh ^ ch) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select("row_id", "corpus_id", "hamming")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    banded.unpersist(blocking = false)
    out
  }

  // -------------------------------------------------------------- real WAV

  /** Decoded audio features (REAL decode of the other pure-bytes media
    * family: RIFF/WAV PCM — little-endian multi-byte fields and a chunked
    * container, a different wire discipline from PGM's ASCII header).
    */
  case class WavFeatures(doc_id: Long, sample_rate: Int, n_samples: Int,
                         duration_ms: Double, mean_amp: Double, peak: Int)

  /** RIFF/WAV decoder for 8-bit unsigned mono PCM: validates the RIFF/WAVE
    * magic, WALKS the chunk list (word-aligned, unknown chunks skipped —
    * real files carry LIST/INFO chunks before `data`), reads the `fmt `
    * chunk's little-endian fields, then computes sample statistics from the
    * `data` chunk. Returns None on any malformed payload (truncated chunk,
    * non-PCM, non-8-bit, missing data) — dead-letter, never throw.
    */
  def decodeWav(docId: Long, b: Array[Byte]): Option[WavFeatures] = {
    wavDataRange(b).map { case (rate, dataOff, dataLen) =>
      var sum = 0L; var peak = 0; var p = 0
      while (p < dataLen) {
        val v = b(dataOff + p) & 0xff
        sum += v; if (v > peak) peak = v
        p += 1
      }
      WavFeatures(docId, rate, dataLen, dataLen * 1000.0 / rate,
        sum.toDouble / dataLen, peak)
    }
  }

  /** Validated (rate, dataOff, dataLen) of an 8-bit mono PCM RIFF/WAV —
    * the chunk walk [[decodeWav]] and [[fingerprintWav]] share; None on any
    * malformed container.
    */
  private def wavDataRange(b: Array[Byte]): Option[(Int, Int, Int)] = {
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = (u16(i).toLong | (u16(i + 2).toLong << 16)) & 0xffffffffL
    def tag(i: Int, t: String): Boolean =
      (0 until 4).forall(j => (b(i + j) & 0xff) == t.charAt(j))
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmt = -1; var ch = -1; var rate = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (i + 8 <= b.length) {
      val len = u32(i + 4)
      if (len > b.length - i - 8) return None // truncated chunk
      if (tag(i, "fmt ")) {
        if (len < 16) return None
        fmt = u16(i + 8); ch = u16(i + 10)
        rate = u32(i + 12).toInt; bits = u16(i + 22)
      } else if (tag(i, "data")) { dataOff = i + 8; dataLen = len.toInt }
      i += 8 + len.toInt + (len.toInt & 1) // RIFF chunks are word-aligned
    }
    if (fmt != 1 || ch != 1 || bits != 8 || rate <= 0 ||
      dataOff < 0 || dataLen <= 0) None
    else Some((rate, dataOff, dataLen))
  }

  /** Perceptual audio fingerprint — the WAV edition of [[dhashPgm]]: the
    * waveform is bucketed into 33 equal windows (sample p → window
    * p·33/len), each window reduced to its integer mean amplitude, and bit
    * k (k < 32) is set iff the mean rises window k → k+1 — 32 envelope
    * gradient signs. Needs ≥ 33 samples (every window non-empty); shorter
    * or malformed payloads dead-letter.
    */
  def fingerprintWav(docId: Long, b: Array[Byte]): Option[Long] =
    wavDataRange(b).filter(_._3 >= 33).map { case (_, off, n) =>
      val sums = new Array[Long](33)
      val cnts = new Array[Long](33)
      var p = 0
      while (p < n) {
        val k = (p.toLong * 33 / n).toInt
        sums(k) += b(off + p) & 0xff
        cnts(k) += 1
        p += 1
      }
      var hash = 0L
      var k = 0
      while (k < 32) {
        if (sums(k) / cnts(k) < sums(k + 1) / cnts(k + 1)) hash |= 1L << k
        k += 1
      }
      hash
    }

  /** Deterministic synthetic WAV payload (8-bit unsigned mono PCM): sample
    * count, rate and every sample are closed-form in the id so the oracle
    * computes the decoded statistics analytically — a mis-read endian field
    * or chunk offset cannot hash-match.
    */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = (64 + docId % 129).toInt
    val rate = (8000 + (docId % 4) * 4000).toInt
    val out = new Array[Byte](44 + n)
    def tag(i: Int, t: String): Unit =
      (0 until 4).foreach(j => out(i + j) = t.charAt(j).toByte)
    def w16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    def w32(i: Int, v: Long): Unit = {
      w16(i, (v & 0xffff).toInt); w16(i + 2, ((v >>> 16) & 0xffff).toInt)
    }
    tag(0, "RIFF"); w32(4, 36L + n); tag(8, "WAVE")
    tag(12, "fmt "); w32(16, 16L)
    w16(20, 1) // PCM
    w16(22, 1) // mono
    w32(24, rate)
    w32(28, rate) // byte rate = rate · 1 ch · 1 B
    w16(32, 1) // block align
    w16(34, 8) // bits per sample
    tag(36, "data"); w32(40, n.toLong)
    var p = 0
    while (p < n) {
      out(44 + p) = ((docId * 13 + p.toLong * 11) % 256).toByte
      p += 1
    }
    out
  }

  /** Real WAV decode over a payload column; malformed rows dead-letter. */
  def extractWav(spark: SparkSession, df: DataFrame,
                 idCol: String, payloadCol: String): Dataset[WavFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => decodeWav(r.doc_id, r.payload)))
  }

  // --------------------------------------------------------------- resize

  /** Nearest-neighbor downscale result; `checksum` pins every resized pixel
    * (a single mis-mapped source index changes it).
    */
  case class ResizedFeatures(doc_id: Long, width: Int, height: Int,
                             out_w: Int, out_h: Int, mean_resized: Double,
                             checksum: Long)

  /** REAL image resize (nearest neighbor) over a PGM payload: output pixel
    * (ox, oy) samples source pixel (⌊ox·w/ow⌋, ⌊oy·h/oh⌋) — the standard
    * thumbnail/embedding-prep step, done executor-side on the raw plane
    * with no codec library. Malformed payloads dead-letter.
    */
  def resizePgm(docId: Long, b: Array[Byte], ow: Int, oh: Int): Option[ResizedFeatures] = {
    decodePgm(docId, b).map { f =>
      // re-locate the pixel plane (decodePgm validated the header)
      var i = 2
      var seen = 0
      while (seen < 3) { // skip w, h, maxval
        while (i < b.length && !(b(i) >= '0' && b(i) <= '9')) i += 1
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        seen += 1
      }
      i += 1
      var sum = 0L
      var oy = 0
      while (oy < oh) {
        val sy = oy * f.height / oh
        var ox = 0
        while (ox < ow) {
          val sx = ox * f.width / ow
          sum += (b(i + sy * f.width + sx) & 0xff)
          ox += 1
        }
        oy += 1
      }
      ResizedFeatures(docId, f.width, f.height, ow, oh,
        sum.toDouble / (ow * oh), sum)
    }
  }

  /** Resize over a payload column; malformed rows dead-letter. */
  def extractResized(spark: SparkSession, df: DataFrame, idCol: String,
                     payloadCol: String, ow: Int, oh: Int): Dataset[ResizedFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => resizePgm(r.doc_id, r.payload, ow, oh)))
  }

  // ------------------------------------------------------- frame sampling

  /** Features of a frame-SAMPLED multi-frame container: only every
    * `stride`-th frame is decoded; the rest are seeked over.
    */
  case class VideoFeatures(doc_id: Long, n_frames: Int, n_sampled: Int,
                           sampled_pixels: Long, mean_gray: Double)

  /** Parse one PGM frame starting at `off`; returns (width, height,
    * pixelOffset, nextFrameOffset) without touching pixel bytes, or None if
    * malformed. The pixel plane is summed only by callers that WANT the
    * frame — this is what makes frame sampling cheaper than decoding.
    */
  private def pgmHeaderAt(b: Array[Byte], off: Int): Option[(Int, Int, Int, Int)] = {
    var i = off
    def skipWs(): Unit = {
      while (i < b.length && (b(i) == ' ' || b(i) == '\n' || b(i) == '\r' || b(i) == '\t')) i += 1
    }
    def readInt(): Int = {
      skipWs()
      var v = -1L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = (if (v < 0) 0L else v) * 10 + (b(i) - '0'); i += 1
        if (v > Int.MaxValue) v = Int.MaxValue.toLong + 1
      }
      if (v > Int.MaxValue) -2 else v.toInt
    }
    if (i + 2 > b.length || b(i) != 'P' || b(i + 1) != '5') return None
    i += 2
    val w = readInt(); val h = readInt(); val maxVal = readInt()
    if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim ||
        maxVal <= 0 || maxVal > 255) return None
    i += 1
    // size the plane in Long: w*h in Int wraps negative on crafted headers
    val nL = w.toLong * h
    if (i.toLong + nL > b.length) return None
    Some((w, h, i, i + nL.toInt))
  }

  /** REAL frame-sampling decode of a multi-frame container (`GVID` magic +
    * u16le frame count + concatenated PGM frames): every `stride`-th frame
    * is pixel-decoded; skipped frames cost a HEADER PARSE + SEEK only (the
    * container has no frame index, so offsets come from walking headers —
    * the same discipline as sampling an MJPEG/ivf stream). Malformed
    * containers (bad magic, truncated frame, count mismatch) dead-letter.
    */
  def decodeVideo(docId: Long, b: Array[Byte], stride: Int = 3): Option[VideoFeatures] = {
    if (b.length < 6 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D')
      return None
    val nFrames = (b(4) & 0xff) | ((b(5) & 0xff) << 8)
    var off = 6
    var f = 0
    var sampled = 0
    var pixels = 0L
    var sum = 0L
    while (f < nFrames) {
      pgmHeaderAt(b, off) match {
        case None => return None
        case Some((w, h, px, next)) =>
          if (f % stride == 0) { // sampled frame: decode the pixel plane
            var p = 0
            val n = w * h
            while (p < n) { sum += (b(px + p) & 0xff); p += 1 }
            pixels += n
            sampled += 1
          } // else: seek — pixel bytes never touched
          off = next
      }
      f += 1
    }
    if (off != b.length || pixels == 0) return None
    Some(VideoFeatures(docId, nFrames, sampled, pixels, sum.toDouble / pixels))
  }

  /** Deterministic synthetic container: frame count, per-frame dimensions
    * and every pixel are closed-form in (id, frame, pixel) — the oracle
    * computes the SAMPLED frames' statistics analytically, so a wrong
    * stride, a mis-seek, or an off-by-one frame boundary cannot hash-match.
    */
  def syntheticVideo(docId: Long): Array[Byte] = {
    val nFrames = (2 + docId % 5).toInt
    val frames = (0 until nFrames).map { f =>
      val w = (6 + (docId + f) % 5).toInt
      val h = (6 + (docId + f) % 3).toInt
      val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + w * h)
      System.arraycopy(header, 0, out, 0, header.length)
      var p = 0
      while (p < w * h) {
        out(header.length + p) = ((docId * 7 + f * 13 + p.toLong * 3) % 256).toByte
        p += 1
      }
      out
    }
    val total = 6 + frames.map(_.length).sum
    val out = new Array[Byte](total)
    out(0) = 'G'; out(1) = 'V'; out(2) = 'I'; out(3) = 'D'
    out(4) = nFrames.toByte; out(5) = (nFrames >>> 8).toByte
    var off = 6
    frames.foreach { fr => System.arraycopy(fr, 0, out, off, fr.length); off += fr.length }
    out
  }

  /** Frame-sampling decode over a payload column; malformed rows dead-letter. */
  def extractVideo(spark: SparkSession, df: DataFrame, idCol: String,
                   payloadCol: String, stride: Int = 3): Dataset[VideoFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => decodeVideo(r.doc_id, r.payload, stride)))
  }

  // -------------------------------------------------------------- real BMP

  /** Decoded 24-bit color image features: per-channel means pin every pixel
    * byte; a swapped channel order (BMP stores BGR) or a missed row-padding
    * byte cannot hash-match the analytic oracle.
    */
  case class BmpFeatures(doc_id: Long, width: Int, height: Int, n_pixels: Int,
                         mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL Windows BMP decoder (24-bit uncompressed BI_RGB, the dominant
    * interchange flavor) — the third pure-bytes image family after PGM's
    * ASCII header and RIFF's chunk walk, exercising the remaining wire
    * disciplines: a little-endian FIXED-OFFSET header pair
    * (BITMAPFILEHEADER + BITMAPINFOHEADER), an explicit pixel-data offset
    * that must be honored (real writers put gaps/palettes there), BOTTOM-UP
    * row order (positive height; negative = top-down, also handled), BGR
    * byte order, and rows padded to 4-byte boundaries. Malformed payloads
    * (bad magic, wrong bpp/compression, overflowing or capped dims, short
    * pixel data) dead-letter as None, never throw. All plane arithmetic is
    * in Long — a crafted width cannot wrap a bounds check.
    */
  def decodeBmp(docId: Long, b: Array[Byte]): Option[BmpFeatures] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def i32(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    val dataOff = i32(10)
    val infoSize = i32(14)
    if (infoSize < 40) return None // BITMAPCOREHEADER not supported
    val w = i32(18)
    val hRaw = i32(22)
    val topDown = hRaw < 0
    val h = if (topDown) -hRaw else hRaw
    if (hRaw == Int.MinValue || w <= 0 || h <= 0 ||
      w > MaxDim || h > MaxDim) return None
    if (u16(26) != 1 || u16(28) != 24 || i32(30) != 0) return None
    val rowBytes = (w.toLong * 3 + 3) & ~3L
    if (dataOff < 54 || dataOff.toLong + rowBytes * h > b.length) return None
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      var i = dataOff + (srcRow * rowBytes).toInt
      var x = 0
      while (x < w) {
        sb += (b(i) & 0xff); sg += (b(i + 1) & 0xff); sr += (b(i + 2) & 0xff)
        i += 3; x += 1
      }
      y += 1
    }
    val n = w * h // safe: both ≤ MaxDim and rowBytes·h fit in the payload
    def mean(s: Long) = math.rint(s.toDouble / n * 10000) / 10000
    Some(BmpFeatures(docId, w, h, n, mean(sr), mean(sg), mean(sb)))
  }

  /** Deterministic synthetic 24-bit BMP: dimensions and every channel byte
    * are closed-form in (id, pixel index), stored BOTTOM-UP with row
    * padding, so the analytic oracle can compute the channel means without
    * parsing — a mis-read padding byte or BGR mixup cannot match.
    */
  def syntheticBmp(docId: Long): Array[Byte] = {
    val w = (4 + docId % 5).toInt
    val h = (3 + docId % 4).toInt
    val rowBytes = (w * 3 + 3) & ~3
    val size = 54 + rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var yStored = h - 1 // bottom-up: last logical row first
    while (yStored >= 0) {
      var x = 0
      while (x < w) {
        val p = yStored * w + x // logical pixel index
        buf.put(((docId * 7 + p * 3) % 256).toByte)  // B
        buf.put(((docId * 11 + p * 5) % 256).toByte) // G
        buf.put(((docId * 13 + p * 2) % 256).toByte) // R
        x += 1
      }
      var pad = rowBytes - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      yStored -= 1
    }
    buf.array()
  }

  /** Real BMP decode over a payload column; malformed rows dead-letter. */
  def extractBmp(spark: SparkSession, df: DataFrame,
                 idCol: String, payloadCol: String): Dataset[BmpFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[MMRecord]
      .mapPartitions(_.flatMap(r => decodeBmp(r.doc_id, r.payload)))
  }
}
