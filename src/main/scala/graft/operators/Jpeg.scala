package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** JPEG/JFIF codec (baseline + progressive) — pure Scala, no codec library (SURVEY.md §2
  * group F). JPEG is the dominant image format in any real
  * training-data crawl, and unlike BMP/PGM/WAV it is an ENTROPY-CODED
  * lossy format: markers + quantization tables + canonical Huffman tables
  * + DCT blocks + byte stuffing + restart markers. Everything here is
  * derived from the public JPEG standard (ITU-T T.81 / ISO 10918-1):
  * the marker layout from Annex B, the canonical Huffman construction and
  * DECODE procedure from Annex C/F, the example Huffman tables from
  * Annex K.3, and the JFIF YCbCr↔RGB transform from the public JFIF 1.02
  * spec. Reference capability anchor: the reference engine treats media
  * payloads as opaque bytes end-to-end (anonymizer/src/source.rs:35-73
  * decode seam); this operator family is the "what a 100 TB multimodal
  * pipeline additionally needs" extension.
  *
  * Decoder scope: baseline + extended-sequential DCT (SOF0/SOF1) AND
  * progressive DCT (SOF2: spectral selection + successive approximation,
  * DC and AC refinement scans, EOB runs — [[ProgState]] state machine
  * below), 8-bit, grayscale or YCbCr with arbitrary
  * 1/2/4 sampling factors (4:4:4, 4:2:2, 4:2:0, ...), interleaved or
  * single-component scans, DRI/RSTn restart intervals, FF00 byte
  * stuffing. Arithmetic-coded (SOF9–SOF11, SOF13–SOF15) and lossless/
  * hierarchical (SOF3, SOF5–SOF7) modes are the rejected set →
  * dead-letter, never a throw (the same poisoned-message discipline as
  * the capnp decoder).
  *
  * Encoder scope (payload synthesis + spec differential fixtures):
  * grayscale baseline with a caller-supplied quantization table and
  * restart interval, standard Annex K.3 Huffman tables, full FDCT +
  * zigzag + run-length AC coding — NOT a DC-only toy, so encoder output
  * exercises the decoder's complete AC path in specs.
  *
  * Exactness contract for the analytic oracle (f07): a block-constant
  * image (every 8×8 block one flat value) has AC energy exactly zero and
  * integer DC energy 8·(v−128); with an all-ones quantization table both
  * survive quantize→dequantize unchanged, and any conforming IDCT
  * reconstructs the flat value exactly. So the decoded statistics of
  * [[syntheticJpeg]] payloads are closed-form in doc_id — computable by
  * DuckDB without a JPEG codec — while the bitstream still runs the real
  * marker/Huffman/stuffing/restart machinery. The lossy general case is
  * certified differentially in JpegSpec against the JDK's independent
  * ImageIO decoder.
  *
  * Scale shape: decode is a per-row `mapPartitions` seam (the documented
  * imperative boundary, same as BMP/PGM/WAV) — embarrassingly parallel,
  * no shuffle; restart markers are also exactly the intra-file
  * parallel-decode seam a production splitter would use.
  */
object Jpeg {

  /** Sanity cap on header-claimed dimensions (same guard as Multimodal). */
  private val MaxDim = 1 << 14

  // ---------------------------------------------------------------- tables

  /** Zigzag scan: position k in the coded stream ↔ natural index (row*8+col). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3 example tables (the de-facto standard set every encoder ships). */
  private val StdDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val StdDcVals = (0 to 11).toArray
  private val StdAcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val StdAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** cos((2x+1)·u·π/16) — shared by FDCT and IDCT. */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16)
  }
  private val C: Array[Double] = Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2) else 1.0)

  // --------------------------------------------------- canonical Huffman

  /** Decode-side table (Annex C/F): mincode/maxcode/valptr per code length. */
  private final class HuffTable(bits: Array[Int], val vals: Array[Int]) {
    val mincode = new Array[Int](17)
    val maxcode = new Array[Int](17)
    val valptr  = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var len = 1
      while (len <= 16) {
        valptr(len) = k
        mincode(len) = code
        k += bits(len - 1)
        code += bits(len - 1)
        maxcode(len) = code - 1 // bits==0 → maxcode < mincode → no match
        code <<= 1
        len += 1
      }
    }
  }

  /** Encode-side map value → (code, length), canonical order. */
  private def canonicalCodes(bits: Array[Int], vals: Array[Int]): Array[(Int, Int)] = {
    val out = new Array[(Int, Int)](256)
    var code = 0; var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out
  }

  // ------------------------------------------------------------- decoder

  /** Fully decoded image: grayscale (`nComp`=1, planes = [gray]) or color
    * (`nComp`=3, planes = [R, G, B]), each plane `width*height` row-major.
    */
  final case class DecodedImage(width: Int, height: Int, nComp: Int,
                                planes: Array[Array[Int]])

  /** Entropy-segment bit reader: FF00 unstuffing, marker detection, RSTn
    * consumption. Never reads past a non-stuffed marker.
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    private var markerAt = -1
    def nextBit(): Int = {
      if (nbits == 0) {
        if (markerAt >= 0 || pos >= b.length) return -1
        val by = b(pos) & 0xff
        if (by == 0xff) {
          if (pos + 1 >= b.length) { markerAt = pos; return -1 }
          if ((b(pos + 1) & 0xff) == 0x00) { pos += 2; acc = 0xff; nbits = 8 }
          else { markerAt = pos; return -1 }
        } else { pos += 1; acc = by; nbits = 8 }
      }
      nbits -= 1
      (acc >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { val bit = nextBit(); if (bit < 0) return Int.MinValue; v = (v << 1) | bit; i += 1 }
      v
    }
    /** Byte-align after entropy data; the byte position where the next
      * marker must start (the enclosing parser re-verifies the 0xFF).
      */
    def alignToMarker(): Option[Int] = {
      nbits = 0
      if (markerAt >= 0) Some(markerAt)
      else if (pos < b.length) Some(pos)
      else None
    }

    /** Byte-align and consume the expected FFD0+m restart marker. */
    def consumeRst(expected: Int): Boolean = {
      nbits = 0
      if (markerAt < 0) {
        if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff) markerAt = pos
        else return false
      }
      if ((b(markerAt + 1) & 0xff) != (0xd0 + expected)) return false
      pos = markerAt + 2
      markerAt = -1
      true
    }
  }

  private def decodeSym(br: BitReader, t: HuffTable): Int = {
    var code = 0; var len = 0
    while (len < 16) {
      val bit = br.nextBit()
      if (bit < 0) return -1
      code = (code << 1) | bit
      len += 1
      if (code >= t.mincode(len) && code <= t.maxcode(len)) {
        val idx = t.valptr(len) + code - t.mincode(len)
        if (idx >= t.vals.length) return -1
        return t.vals(idx)
      }
    }
    -1
  }

  /** EXTEND (Annex F.2.2.1): map `size`-bit magnitude bits to a signed value. */
  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0 else if (v < (1 << (size - 1))) v - (1 << size) + 1 else v

  private def idct(coef: Array[Int], out: Array[Int]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          val cy = Cos(y)(v) * C(v)
          while (u < 8) {
            val c = coef(v * 8 + u)
            if (c != 0) s += C(u) * cy * c * Cos(x)(u)
            u += 1
          }
          v += 1
        }
        val p = Math.round(s / 4.0 + 128.0).toInt
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0
    var ta = 0
  }

  /** Decode a JFIF payload (baseline, extended-sequential, or progressive).
    * Returns None on ANY malformed, truncated, or unsupported input —
    * dead-letter semantics.
    */
  def decode(b: Array[Byte]): Option[DecodedImage] =
    try decodeInner(b)
    catch { case _: Exception => None } // corrupt offsets etc. — poisoned message

  private def decodeInner(b: Array[Byte]): Option[DecodedImage] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var pos = 2
    def u16(i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

    val qt = Array.ofDim[Int](4, 64) // zigzag order
    val qtSeen = new Array[Boolean](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var progressive = false
    var prog: ProgState = null

    while (pos + 1 < b.length) {
      if ((b(pos) & 0xff) != 0xff) return None
      while (pos < b.length && (b(pos) & 0xff) == 0xff) pos += 1 // fill bytes
      if (pos >= b.length) return None
      val marker = b(pos) & 0xff
      pos += 1
      marker match {
        case 0xd9 => // EOI: valid end only for a progressive image with scans
          return if (prog != null) prog.finish(qt, qtSeen) else None
        case 0xc0 | 0xc1 | 0xc2 => // baseline / extended sequential / progressive
          progressive = marker == 0xc2
          val len = u16(pos)
          if (b(pos + 2) != 8) return None // 8-bit precision only
          height = u16(pos + 3); width = u16(pos + 5)
          val n = b(pos + 7) & 0xff
          if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return None
          if (n != 1 && n != 3) return None
          comps = Array.tabulate(n) { i =>
            val o = pos + 8 + i * 3
            val c = Component(b(o) & 0xff, (b(o + 1) & 0xff) >> 4, b(o + 1) & 0x0f, b(o + 2) & 0xff)
            if (c.h < 1 || c.h > 4 || c.v < 1 || c.v > 4 || c.tq > 3) return None
            c
          }
          pos += len
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          return None // lossless / hierarchical / arithmetic — out of scope
        case 0xc4 => // DHT, possibly several tables in one segment
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val tc = (b(o) & 0xff) >> 4
            val th = b(o) & 0x0f
            if (tc > 1 || th > 3) return None
            val bits = Array.tabulate(16)(i => b(o + 1 + i) & 0xff)
            val total = bits.sum
            if (total > 256 || o + 17 + total > pos + len) return None
            val vals = Array.tabulate(total)(i => b(o + 17 + i) & 0xff)
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
            o += 17 + total
          }
          pos += len
        case 0xdb => // DQT, possibly several tables
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val pq = (b(o) & 0xff) >> 4
            val tq = b(o) & 0x0f
            if (pq > 1 || tq > 3) return None
            var k = 0
            while (k < 64) {
              qt(tq)(k) = if (pq == 0) b(o + 1 + k) & 0xff else u16(o + 1 + 2 * k)
              k += 1
            }
            qtSeen(tq) = true
            o += 1 + (if (pq == 0) 64 else 128)
          }
          pos += len
        case 0xdd =>
          restartInterval = u16(pos + 2)
          pos += u16(pos)
        case 0xda => // SOS — entropy data follows
          val len = u16(pos)
          val ns = b(pos + 2) & 0xff
          if (comps == null) return None
          if (!progressive && ns != comps.length) return None // interleaved-or-single only
          if (ns < 1 || ns > comps.length) return None
          var o = pos + 3
          val scanComps = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cs = b(o) & 0xff
            val ci = comps.indexWhere(_.id == cs)
            if (ci < 0) return None
            scanComps(i) = ci
            comps(ci).td = (b(o + 1) & 0xff) >> 4
            comps(ci).ta = b(o + 1) & 0x0f
            if (comps(ci).td > 3 || comps(ci).ta > 3) return None
            o += 2; i += 1
          }
          val ss = b(o) & 0xff
          val se = b(o + 1) & 0xff
          val ah = (b(o + 2) & 0xff) >> 4
          val al = b(o + 2) & 0x0f
          pos += len
          if (!progressive) {
            if (ss != 0 || se != 63 || ah != 0 || al != 0) return None
            return decodeScan(b, pos, width, height, comps, qt, qtSeen, dcTables, acTables,
              restartInterval)
          }
          if (prog == null) prog = new ProgState(width, height, comps)
          pos = prog.decodeScan(b, pos, scanComps, ss, se, ah, al,
            dcTables, acTables, restartInterval) match {
            case Some(p) => p
            case None => return None
          }
        case m if m >= 0xd0 && m <= 0xd7 => return None // stray RST outside scan
        case _ => // APPn / COM / anything with a length field — skip
          if (pos + 1 >= b.length) return None
          pos += u16(pos)
      }
    }
    None
  }

  /** Progressive-mode (SOF2) decode state: quantized DCT coefficients are
    * accumulated across scans — DC first + refinement, per-component AC
    * spectral bands + successive-approximation refinement with EOB runs
    * (T.81 G.2) — and dequantized + IDCT'd once at EOI.
    */
  private final class ProgState(width: Int, height: Int, comps: Array[Component]) {
    private val maxH = comps.map(_.h).max
    private val maxV = comps.map(_.v).max
    private val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    private val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    // coefficient blocks at padded-MCU geometry; real (non-padding) extent
    private val blocksW = comps.map(c => mcusX * c.h)
    private val blocksH = comps.map(c => mcusY * c.v)
    private val bw = comps.map(c => ((width * c.h + maxH - 1) / maxH + 7) / 8)
    private val bh = comps.map(c => ((height * c.v + maxV - 1) / maxV + 7) / 8)
    private val coefs = comps.indices.map(ci =>
      new Array[Int](blocksW(ci) * blocksH(ci) * 64)).toArray
    private var sawScan = false

    def decodeScan(b: Array[Byte], start: Int, scanComps: Array[Int],
                   ss: Int, se: Int, ah: Int, al: Int,
                   dcTables: Array[HuffTable], acTables: Array[HuffTable],
                   restartInterval: Int): Option[Int] = {
      if (ss > 63 || se > 63 || se < ss || al > 13) return None
      val isDc = ss == 0
      if (isDc && se != 0) return None      // DC scans carry only coefficient 0
      if (!isDc && scanComps.length != 1) return None // AC scans are single-comp
      if (ah != 0 && ah != al + 1) return None
      val br = new BitReader(b, start)
      val pred = new Array[Int](scanComps.length)
      var eobrun = 0
      var rstSeq = 0
      var sinceRestart = 0
      def restartIfDue(): Boolean = {
        if (restartInterval > 0 && sinceRestart == restartInterval) {
          if (!br.consumeRst(rstSeq)) return false
          rstSeq = (rstSeq + 1) % 8
          sinceRestart = 0
          java.util.Arrays.fill(pred, 0)
          eobrun = 0
        }
        true
      }

      def decodeDcBlock(si: Int, ci: Int, blk: Int): Boolean = {
        val off = blk * 64
        if (ah == 0) {
          val t = decodeSym(br, dcTables(comps(ci).td))
          if (t < 0 || t > 15) return false
          val bits = br.receive(t)
          if (bits == Int.MinValue) return false
          pred(si) += extend(bits, t)
          coefs(ci)(off) = pred(si) << al
        } else {
          val bit = br.nextBit()
          if (bit < 0) return false
          if (bit == 1) coefs(ci)(off) |= 1 << al
        }
        true
      }

      def decodeAcFirst(ci: Int, blk: Int): Boolean = {
        val off = blk * 64
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = ss
        while (k <= se) {
          val rs = decodeSym(br, acTables(comps(ci).ta))
          if (rs < 0) return false
          val r = rs >> 4
          val s = rs & 0x0f
          if (s == 0) {
            if (r == 15) k += 16 // ZRL
            else {
              eobrun = (1 << r) - 1
              if (r > 0) {
                val extra = br.receive(r)
                if (extra == Int.MinValue) return false
                eobrun += extra
              }
              return true // EOB for this block
            }
          } else {
            k += r
            if (k > se) return false
            val bits = br.receive(s)
            if (bits == Int.MinValue) return false
            coefs(ci)(off + Zigzag(k)) = extend(bits, s) << al
            k += 1
          }
        }
        true
      }

      def decodeAcRefine(ci: Int, blk: Int): Boolean = {
        val off = blk * 64
        val p1 = 1 << al
        val m1 = -1 << al
        val c = coefs(ci)
        def correct(idx: Int): Boolean = {
          val bit = br.nextBit()
          if (bit < 0) return false
          if (bit == 1 && (c(idx) & p1) == 0)
            c(idx) += (if (c(idx) >= 0) p1 else m1)
          true
        }
        var k = ss
        if (eobrun == 0) {
          var atEob = false
          while (!atEob && k <= se) {
            val rs = decodeSym(br, acTables(comps(ci).ta))
            if (rs < 0) return false
            var r = rs >> 4
            val s = rs & 0x0f
            var insert = 0
            if (s == 0) {
              if (r != 15) {
                eobrun = 1 << r
                if (r > 0) {
                  val extra = br.receive(r)
                  if (extra == Int.MinValue) return false
                  eobrun += extra
                }
                atEob = true
              }
            } else {
              if (s != 1) return false // refinement may only introduce ±1<<al
              val bit = br.nextBit()
              if (bit < 0) return false
              insert = if (bit == 1) p1 else m1
            }
            if (!atEob) {
              // skip r zero-HISTORY coefficients, correcting nonzero en route
              var placed = false
              while (!placed && k <= se) {
                val idx = off + Zigzag(k)
                if (c(idx) != 0) {
                  if (!correct(idx)) return false
                } else {
                  if (r == 0) {
                    if (insert != 0) c(idx) = insert
                    placed = true
                  } else r -= 1
                }
                k += 1
              }
              if (!placed && insert != 0) return false // ran off the band
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val idx = off + Zigzag(k)
            if (c(idx) != 0) { if (!correct(idx)) return false }
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      if (isDc && scanComps.length > 1) {
        // interleaved DC scan: MCU order, h×v blocks per component
        var mcu = 0
        val total = mcusX * mcusY
        while (mcu < total) {
          if (!restartIfDue()) return None
          val mx = mcu % mcusX
          val my = mcu / mcusX
          var si = 0
          while (si < scanComps.length) {
            val ci = scanComps(si)
            val cmp = comps(ci)
            var by = 0
            while (by < cmp.v) {
              var bx = 0
              while (bx < cmp.h) {
                val blk = (my * cmp.v + by) * blocksW(ci) + (mx * cmp.h + bx)
                if (!decodeDcBlock(si, ci, blk)) return None
                bx += 1
              }
              by += 1
            }
            si += 1
          }
          sinceRestart += 1
          mcu += 1
        }
      } else {
        // non-interleaved: the single component's real blocks in raster order
        val ci = scanComps(0)
        val total = bw(ci) * bh(ci)
        var i = 0
        while (i < total) {
          if (!restartIfDue()) return None
          val blk = (i / bw(ci)) * blocksW(ci) + (i % bw(ci))
          val ok =
            if (isDc) decodeDcBlock(0, ci, blk)
            else if (ah == 0) decodeAcFirst(ci, blk)
            else decodeAcRefine(ci, blk)
          if (!ok) return None
          sinceRestart += 1
          i += 1
        }
      }
      br.alignToMarker() match {
        case Some(p) => sawScan = true; Some(p)
        case None => None
      }
    }

    /** Dequantize + IDCT every accumulated block, then assemble. */
    def finish(qt: Array[Array[Int]], qtSeen: Array[Boolean]): Option[DecodedImage] = {
      if (!sawScan) return None
      val planeW = comps.indices.map(ci => blocksW(ci) * 8).toArray
      val planes = comps.indices.map(ci =>
        new Array[Int](planeW(ci) * blocksH(ci) * 8)).toArray
      val dq = new Array[Int](64)
      val block = new Array[Int](64)
      for (ci <- comps.indices) {
        val c = comps(ci)
        if (!qtSeen(c.tq)) return None
        val q = qt(c.tq)
        var blk = 0
        val nBlocks = blocksW(ci) * blocksH(ci)
        while (blk < nBlocks) {
          val off = blk * 64
          var k = 0
          while (k < 64) { dq(Zigzag(k)) = coefs(ci)(off + Zigzag(k)) * q(k); k += 1 }
          idct(dq, block)
          val px = (blk % blocksW(ci)) * 8
          val py = (blk / blocksW(ci)) * 8
          var yy = 0
          while (yy < 8) {
            var xx = 0
            val rowOff = (py + yy) * planeW(ci) + px
            while (xx < 8) { planes(ci)(rowOff + xx) = block(yy * 8 + xx); xx += 1 }
            yy += 1
          }
          blk += 1
        }
      }
      assemble(width, height, comps,
        comps.map(_.h), comps.map(_.v), planeW, planes)
    }
  }

  private def decodeScan(b: Array[Byte], start: Int, width: Int, height: Int,
                         comps: Array[Component], qt: Array[Array[Int]],
                         qtSeen: Array[Boolean],
                         dcTables: Array[HuffTable], acTables: Array[HuffTable],
                         restartInterval: Int): Option[DecodedImage] = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    // In a single-component scan the MCU is ONE data unit regardless of
    // sampling factors (T.81 A.2.3); interleaved scans pack h×v per comp.
    val single = comps.length == 1
    val mcusX = if (single) (width + 7) / 8 else (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = if (single) (height + 7) / 8 else (height + 8 * maxV - 1) / (8 * maxV)
    // Per-component plane padded to whole MCUs.
    val planeW = comps.map(c => if (single) mcusX * 8 else mcusX * c.h * 8)
    val planeH = comps.map(c => if (single) mcusY * 8 else mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Int](planeW(i) * planeH(i))).toArray
    for (c <- comps) {
      if (!qtSeen(c.tq)) return None
      if (dcTables(c.td) == null || acTables(c.ta) == null) return None
    }
    val br = new BitReader(b, start)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var rstSeq = 0
    var sinceRestart = 0
    val totalMcus = mcusX * mcusY
    var mcu = 0
    while (mcu < totalMcus) {
      if (restartInterval > 0 && sinceRestart == restartInterval) {
        if (!br.consumeRst(rstSeq)) return None
        rstSeq = (rstSeq + 1) % 8
        sinceRestart = 0
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val bh = if (single) 1 else c.h
        val bv = if (single) 1 else c.v
        var by = 0
        while (by < bv) {
          var bx = 0
          while (bx < bh) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val t = decodeSym(br, dcTables(c.td))
            if (t < 0 || t > 15) return None
            val diffBits = br.receive(t)
            if (diffBits == Int.MinValue) return None
            pred(ci) += extend(diffBits, t)
            coef(0) = pred(ci) * qt(c.tq)(0)
            // AC
            var k = 1
            var done = false
            while (!done && k < 64) {
              val rs = decodeSym(br, acTables(c.ta))
              if (rs < 0) return None
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else done = true     // EOB
              } else {
                k += r
                if (k > 63) return None
                val bits = br.receive(s)
                if (bits == Int.MinValue) return None
                coef(Zigzag(k)) = extend(bits, s) * qt(c.tq)(k)
                k += 1
              }
            }
            idct(coef, block)
            // place into plane
            val px = (if (single) mx else mx * c.h + bx) * 8
            val py = (if (single) my else my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              val rowOff = (py + yy) * planeW(ci) + px
              while (xx < 8) {
                planes(ci)(rowOff + xx) = block(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      sinceRestart += 1
      mcu += 1
    }
    assemble(width, height, comps,
      comps.indices.map(ci => if (single) maxH else comps(ci).h).toArray,
      comps.indices.map(ci => if (single) maxV else comps(ci).v).toArray,
      planeW, planes)
  }

  /** Upsample per-component planes to full resolution, crop, color-convert. */
  private def assemble(width: Int, height: Int, comps: Array[Component],
                       sh: Array[Int], sv: Array[Int],
                       planeW: Array[Int], planes: Array[Array[Int]])
      : Option[DecodedImage] = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val full = comps.indices.map { ci =>
      val out = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        val sy = y * sv(ci) / maxV
        var x = 0
        while (x < width) {
          out(y * width + x) = planes(ci)(sy * planeW(ci) + x * sh(ci) / maxH)
          x += 1
        }
        y += 1
      }
      out
    }.toArray
    if (comps.length == 1) Some(DecodedImage(width, height, 1, full))
    else {
      // JFIF full-range YCbCr → RGB
      val r = new Array[Int](width * height)
      val g = new Array[Int](width * height)
      val bl = new Array[Int](width * height)
      var i = 0
      val n = width * height
      while (i < n) {
        val y = full(0)(i); val cb = full(1)(i) - 128; val cr = full(2)(i) - 128
        def clamp(d: Double): Int = { val v = Math.round(d).toInt; if (v < 0) 0 else if (v > 255) 255 else v }
        r(i) = clamp(y + 1.402 * cr)
        g(i) = clamp(y - 0.344136 * cb - 0.714136 * cr)
        bl(i) = clamp(y + 1.772 * cb)
        i += 1
      }
      Some(DecodedImage(width, height, 3, Array(r, g, bl)))
    }
  }

  // ------------------------------------------------------------- encoder

  /** Grayscale baseline encoder: full FDCT + quantize + zigzag + run-length
    * AC + Annex K.3 Huffman + byte stuffing + optional DRI/RSTn. `quant` is
    * 64 entries in ZIGZAG order (all-ones → near-lossless; exactly lossless
    * on block-constant input).
    */
  def encodeGray(w: Int, h: Int, px: (Int, Int) => Int,
                 quant: Array[Int] = Array.fill(64)(1),
                 restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && quant.length == 64)
    val out = new java.io.ByteArrayOutputStream()
    def m(mk: Int): Unit = { out.write(0xff); out.write(mk) }
    def w16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    m(0xd8) // SOI
    m(0xe0); w16(16); out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(2); out.write(0); w16(1); w16(1); out.write(0); out.write(0)
    m(0xdb); w16(2 + 1 + 64); out.write(0x00) // DQT: pq=0, tq=0
    quant.foreach(q => out.write(q & 0xff))
    m(0xc0); w16(8 + 3) // SOF0: 1 component
    out.write(8); w16(h); w16(w); out.write(1)
    out.write(1); out.write(0x11); out.write(0) // id=1, 1×1, tq=0
    def dht(tc: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      m(0xc4); w16(2 + 1 + 16 + vals.length); out.write((tc << 4) | 0)
      bits.foreach(out.write); vals.foreach(out.write)
    }
    dht(0, StdDcBits, StdDcVals)
    dht(1, StdAcBits, StdAcVals)
    if (restartInterval > 0) { m(0xdd); w16(4); w16(restartInterval) }
    m(0xda); w16(6 + 2); out.write(1) // SOS
    out.write(1); out.write(0x00) // comp 1, td=0 ta=0
    out.write(0); out.write(63); out.write(0) // Ss, Se, AhAl

    val dcCodes = canonicalCodes(StdDcBits, StdDcVals)
    val acCodes = canonicalCodes(StdAcBits, StdAcVals)
    var acc = 0
    var nbits = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) { out.write(acc); if (acc == 0xff) out.write(0x00); acc = 0; nbits = 0 }
        i -= 1
      }
    }
    def align(): Unit = while (nbits != 0) putBits(1, 1)
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    def putVal(v: Int, size: Int): Unit =
      if (size > 0) putBits(if (v >= 0) v else v + (1 << size) - 1, size)

    val blocksX = (w + 7) / 8
    val blocksY = (h + 7) / 8
    val totalMcus = blocksX * blocksY
    val s = new Array[Double](64)
    val q = new Array[Int](64)
    var pred = 0
    var rstSeq = 0
    var mcu = 0
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        align()
        out.write(0xff); out.write(0xd0 + rstSeq)
        rstSeq = (rstSeq + 1) % 8
        pred = 0
      }
      val bx = mcu % blocksX
      val by = mcu / blocksX
      // level-shifted samples, edge-replicated padding
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          val sx = math.min(bx * 8 + xx, w - 1)
          val sy = math.min(by * 8 + yy, h - 1)
          s(yy * 8 + xx) = px(sx, sy) - 128.0
          xx += 1
        }
        yy += 1
      }
      // FDCT + quantize, straight into zigzag order
      var k = 0
      while (k < 64) {
        val nat = Zigzag(k)
        val u = nat % 8
        val v = nat / 8
        var acc2 = 0.0
        var y2 = 0
        while (y2 < 8) {
          val cy = Cos(y2)(v)
          var x2 = 0
          while (x2 < 8) {
            acc2 += s(y2 * 8 + x2) * Cos(x2)(u) * cy
            x2 += 1
          }
          y2 += 1
        }
        val coef = 0.25 * C(u) * C(v) * acc2
        q(k) = Math.round(coef / quant(k)).toInt
        k += 1
      }
      // DC
      val diff = q(0) - pred
      pred = q(0)
      val sz = category(diff)
      val (dcode, dlen) = dcCodes(sz)
      putBits(dcode, dlen)
      putVal(diff, sz)
      // AC with ZRL/EOB
      var run = 0
      k = 1
      while (k < 64) {
        if (q(k) == 0) run += 1
        else {
          while (run > 15) { val (zc, zl) = acCodes(0xf0); putBits(zc, zl); run -= 16 }
          val asz = category(q(k))
          val (acode, alen) = acCodes((run << 4) | asz)
          putBits(acode, alen)
          putVal(q(k), asz)
          run = 0
        }
        k += 1
      }
      if (run > 0) { val (ec, el) = acCodes(0x00); putBits(ec, el) } // EOB
      mcu += 1
    }
    align()
    m(0xd9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------- payloads + features

  /** Deterministic synthetic JFIF payload: dimensions and every 8×8 block's
    * flat value are closed-form in doc_id (see the exactness contract in the
    * object doc), restart interval 2 so roughly half the payloads contain a
    * live RSTn marker. 9 ≤ w ≤ 16 exercises the edge-column crop; h spans
    * one- and two-block-row images.
    */
  def syntheticJpeg(docId: Long): Array[Byte] = {
    val w = (9 + docId % 8).toInt
    val h = (8 + docId % 5).toInt
    encodeGray(w, h,
      (x, y) => (((docId * 31 + (x / 8) * 17 + (y / 8) * 29) % 256 + 256) % 256).toInt,
      restartInterval = 2)
  }

  /** Decoded grayscale features; the mean pins every pixel (any mis-read
    * block, crop, or restart slip shifts it).
    */
  final case class JpegFeatures(doc_id: Long, width: Int, height: Int,
                                n_pixels: Int, mean_luma: Double)

  def decodeJpeg(docId: Long, b: Array[Byte]): Option[JpegFeatures] =
    decode(b).collect {
      case DecodedImage(w, h, 1, planes) =>
        var sum = 0L
        val p = planes(0)
        var i = 0
        while (i < p.length) { sum += p(i); i += 1 }
        JpegFeatures(docId, w, h, w * h, sum.toDouble / (w * h))
    }

  /** Real decode over a payload column; malformed rows dead-letter. Same
    * `mapPartitions` imperative seam as the other media decoders.
    */
  def extractJpeg(spark: SparkSession, df: DataFrame,
                  idCol: String, payloadCol: String): Dataset[JpegFeatures] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("doc_id"), col(payloadCol).as("payload"))
      .as[Multimodal.MMRecord]
      .mapPartitions(_.flatMap(r => decodeJpeg(r.doc_id, r.payload)))
  }
}
