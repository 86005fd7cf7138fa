package graft.operators

/** Baseline JPEG (ITU-T T.81 / ISO 10918-1) — pure-JVM encoder + decoder,
  * the sixth real codec in the multimodal family (after BMP, WAV,
  * PNG/DEFLATE, GIF/LZW, gzip) and the one that retires the last declared
  * decode stub.
  *
  * Encoder ([[encodeGray]]): 8-bit grayscale baseline sequential — level
  * shift, real double-precision 8×8 FDCT over ALL 64 coefficients,
  * Annex-K luminance quantization, DPCM DC + run-length AC Huffman coding
  * with the standard Annex-K luminance code tables, 0xFF byte stuffing,
  * JFIF APP0 + DQT + SOF0 + DHT + SOS + EOI marker structure. Output
  * opens in any image viewer.
  *
  * Decoder ([[decodePixels]]): general baseline — marker walk (APPn/COM
  * skipped, SOF2 progressive and other unsupported SOFs REJECTED loudly),
  * multi-table DQT/DHT parse, canonical Huffman table build, restart-
  * interval (DRI/RSTn) handling, entropy decode with 0xFF00 unstuffing,
  * dequantization, double-precision IDCT, and for 3-component scans
  * chroma upsampling by replication + YCbCr→RGB (ITU-R BT.601 as in the
  * JFIF spec). Every length field and table reference is `require`-gated:
  * crawled bytes must fail loudly, never overread (same discipline as the
  * WAV chunk walker).
  *
  * Gate design (q182, [[Multimodal.jpegDecodeStats]]): JPEG is lossy, so
  * the closed-form-oracle technique needs a subspace where decode is
  * EXACTLY predictable. Flat 8×8 blocks are that subspace: a constant
  * block (value v, level-shifted s = v−128) has FDCT DC = 8s and every
  * AC exactly 0; with the Annex-K DC quant step of 16, the quantized DC
  * is s/2 — exact when s is even — and the decoder's IDCT reconstructs
  * the constant v bit-exactly. Even-valued flat blocks therefore
  * roundtrip LOSSLESSLY through the real lossy pipeline, while still
  * exercising DPCM differences across the full ±127 range (Huffman
  * categories 0–7), EOB coding, byte stuffing, and the whole marker
  * walk. Non-flat content is covered by ScalaTest roundtrip-tolerance
  * specs and cross-validation against the JDK's independent ImageIO
  * JPEG codec.
  *
  * Reference behavior: mirrors the media feature-extraction surface the
  * reference stubs around native codecs (src/lib/scrape/media.ts); the
  * format logic itself is from the public JPEG/JFIF specifications.
  */
object Jpeg {

  /** Annex-K luminance quantization table, natural (row-major) order. */
  private[operators] val QLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** Zigzag scan: position k in the coded stream reads natural index
    * Zigzag(k). Verified a permutation of 0..63 at class-load. */
  private[operators] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)
  require(Zigzag.sorted.sameElements(0 until 64), "zigzag not a permutation")

  /** Standard Annex-K DC luminance Huffman spec: BITS[i] codes of length
    * i+1, values = categories 0..11. */
  private val DcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.tabulate(12)(_.toByte)

  /** Standard Annex-K AC luminance Huffman spec (162 run/size symbols). */
  private val AcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals: Array[Byte] = Array(
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
    0xf9, 0xfa).map(_.toByte)
  require(AcBits.sum == AcVals.length, "AC Huffman spec inconsistent")

  /** Canonical Huffman codes from a BITS/HUFFVAL spec: symbol →
    * (code, length). Same construction the decoder runs on DHT payloads,
    * so encoder and decoder agree by shared code. */
  private def canonicalCodes(bits: Array[Int],
                             vals: Array[Byte]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += (vals(k) & 0xff) -> ((code, len))
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    out.result()
  }

  private lazy val dcCodes = canonicalCodes(DcBits, DcVals)
  private lazy val acCodes = canonicalCodes(AcBits, AcVals)

  private val CosTable: Array[Double] =
    Array.tabulate(8 * 8)(i => math.cos((2 * (i / 8) + 1) * (i % 8) * math.Pi / 16))
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** Forward DCT of one level-shifted 8×8 block (natural order in/out). */
  private def fdct(block: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            acc += block(y * 8 + x) * CosTable(x * 8 + v) * CosTable(y * 8 + u)
            x += 1
          }
          y += 1
        }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        out(u * 8 + v) = 0.25 * cu * cv * acc
        v += 1
      }
      u += 1
    }
    out
  }

  /** Inverse DCT of one dequantized 8×8 block; returns level-shifted
    * samples (caller adds 128 and clamps). */
  private def idct(coef: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val cu = if (u == 0) InvSqrt2 else 1.0
            val cv = if (v == 0) InvSqrt2 else 1.0
            acc += cu * cv * coef(u * 8 + v) * CosTable(x * 8 + v) * CosTable(y * 8 + u)
            v += 1
          }
          u += 1
        }
        out(y * 8 + x) = 0.25 * acc
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // Encoder
  // ------------------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def write(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1 << len) - 1))
      n += len
      while (n >= 8) {
        val b = (acc >>> (n - 8)) & 0xff
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        n -= 8
      }
    }
    /** Pad the final partial byte with 1-bits, per the spec. */
    def flush(): Unit = if (n > 0) write(0x7f, 8 - n)
  }

  private def huffCategory(v: Int): Int = {
    var cat = 0
    var a = math.abs(v)
    while (a != 0) { cat += 1; a >>= 1 }
    cat
  }

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }

  private def segment(out: java.io.ByteArrayOutputStream, m: Int,
                      payload: Array[Byte]): Unit = {
    marker(out, m)
    val len = payload.length + 2
    out.write((len >> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
  }

  /** Encode an 8-bit grayscale baseline JPEG. `pixels` is the top-down
    * w·h sample stream. A real general-purpose encoder: the full FDCT +
    * quantization + run-length AC path runs for every block (non-flat
    * content produces genuine AC coefficients, gated by the ImageIO
    * cross-decode spec). `restartInterval` > 0 emits a DRI segment and
    * byte-aligned RSTn markers every that-many MCUs with DC-predictor
    * resets — the error-resilience structure real encoders emit, and the
    * stream shape that exercises the decoder's restart path. */
  def encodeGray(width: Int, height: Int, pixels: Array[Byte],
                 restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, "empty image")
    // SOF0 stores 16-bit dims — larger inputs would silently truncate into
    // a corrupt stream; reject loudly like every other malformed input
    require(width <= 0xffff && height <= 0xffff,
      s"dims $width x $height exceed SOF0's 16-bit fields")
    require(pixels.length.toLong == width.toLong * height,
      "pixel buffer size mismatch")
    require(restartInterval >= 0 && restartInterval <= 0xffff,
      s"bad restart interval $restartInterval")
    val out = new java.io.ByteArrayOutputStream()
    marker(out, 0xd8) // SOI
    // JFIF APP0: version 1.1, no density, no thumbnail
    segment(out, 0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: table 0, 8-bit precision, zigzag order
    segment(out, 0xdb,
      (Array(0x00) ++ Array.tabulate(64)(k => QLum(Zigzag(k)))).map(_.toByte))
    // SOF0: 8-bit, 1 component, 1x1 sampling, quant table 0
    segment(out, 0xc0, Array(8,
      (height >> 8) & 0xff, height & 0xff, (width >> 8) & 0xff, width & 0xff,
      1, 1, 0x11, 0).map(_.toByte))
    // DHT: DC table 0 then AC table 0 in one segment
    segment(out, 0xc4,
      (Array(0x00.toByte) ++ DcBits.map(_.toByte) ++ DcVals) ++
        (Array(0x10.toByte) ++ AcBits.map(_.toByte) ++ AcVals))
    if (restartInterval > 0)
      segment(out, 0xdd,
        Array((restartInterval >> 8) & 0xff, restartInterval & 0xff).map(_.toByte))
    // SOS: 1 component, DC/AC table 0, full spectral range
    segment(out, 0xda, Array(1, 1, 0x00, 0, 63, 0).map(_.toByte))

    val bw = new BitWriter(out)
    val mcusX = (width + 7) / 8
    val mcusY = (height + 7) / 8
    var prevDc = 0
    var mcu = 0
    var rstIdx = 0
    val block = new Array[Double](64)
    var by = 0
    while (by < mcusY) {
      var bx = 0
      while (bx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()           // byte-align (1-bit pad), per the spec
          marker(out, 0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) & 7
          prevDc = 0           // restart resets the DPCM predictor
        }
        mcu += 1
        // load + level shift, edge blocks padded by clamping to the image
        // (the spec leaves padding to the encoder; clamp-replication keeps
        // edge-block AC energy low)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val sy = math.min(by * 8 + y, height - 1)
            val sx = math.min(bx * 8 + x, width - 1)
            block(y * 8 + x) = (pixels(sy * width + sx) & 0xff) - 128.0
            x += 1
          }
          y += 1
        }
        val coef = fdct(block)
        val q = new Array[Int](64)
        var i = 0
        while (i < 64) { q(i) = Math.round(coef(i) / QLum(i)).toInt; i += 1 }
        // DC: DPCM + category code + amplitude bits
        val diff = q(0) - prevDc
        prevDc = q(0)
        val cat = huffCategory(diff)
        val (dcCode, dcLen) = dcCodes(cat)
        bw.write(dcCode, dcLen)
        if (cat > 0) {
          val amp = if (diff < 0) diff + (1 << cat) - 1 else diff
          bw.write(amp, cat)
        }
        // AC: run-length over zigzag positions 1..63
        var run = 0
        var k = 1
        while (k < 64) {
          val v = q(Zigzag(k))
          if (v == 0) run += 1
          else {
            while (run >= 16) {
              val (z, zl) = acCodes(0xf0); bw.write(z, zl); run -= 16
            }
            val s = huffCategory(v)
            val (c, cl) = acCodes((run << 4) | s)
            bw.write(c, cl)
            val amp = if (v < 0) v + (1 << s) - 1 else v
            bw.write(amp, s)
            run = 0
          }
          k += 1
        }
        if (run > 0) { val (e, el) = acCodes(0x00); bw.write(e, el) }
        bx += 1
      }
      by += 1
    }
    bw.flush()
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  /** Canonical Huffman decode table built from a DHT payload: index by
    * (length, code) through mins/maxs/valPtr — the textbook T.81 F.2.2.3
    * DECODE procedure. */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    require(bits.length == 16, "DHT BITS must have 16 entries")
    require(bits.sum == vals.length, "DHT value count mismatch")
    require(vals.length > 0 && vals.length <= 256, "DHT empty or oversized")
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (len <- 1 to 16) {
        valPtr(len) = k
        minCode(len) = code
        code += bits(len - 1); k += bits(len - 1)
        maxCode(len) = code - 1
        require(code <= (1 << len), s"DHT over-subscribed at length $len")
        code <<= 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.readBit()
      var len = 1
      while (len < 16 && (bits(len - 1) == 0 || code > maxCode(len))) {
        code = (code << 1) | br.readBit()
        len += 1
      }
      require(bits(len - 1) > 0 && code <= maxCode(len),
        "invalid Huffman code in entropy stream")
      vals(valPtr(len) + code - minCode(len)) & 0xff
    }
  }

  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    def readBit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "entropy stream truncated")
        val b = bytes(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < bytes.length, "entropy stream truncated after 0xFF")
          val m = bytes(pos) & 0xff
          require(m == 0x00,
            f"unexpected marker 0xFF$m%02X inside entropy-coded segment")
          pos += 1
        }
        acc = b
        n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def readBits(len: Int): Int = {
      var v = 0
      var i = 0
      while (i < len) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker. */
    def restart(expected: Int): Unit = {
      n = 0
      require(pos + 2 <= bytes.length, "truncated at restart marker")
      require((bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xff) == (0xd0 + expected),
        f"expected RST$expected at offset $pos")
      pos += 2
    }
  }

  private def extend(v: Int, size: Int): Int =
    if (size == 0) 0
    else if (v < (1 << (size - 1))) v - (1 << size) + 1
    else v

  /** Decoded image: `samples` is top-down interleaved — 1 byte/pixel for
    * grayscale, 3 bytes/pixel RGB for 3-component YCbCr scans. `end` is
    * the offset just past EOI (MJPEG streams concatenate frames). */
  final case class Decoded(width: Int, height: Int, nComp: Int,
                           samples: Array[Byte], end: Int)

  private final case class Component(id: Int, h: Int, v: Int, tq: Int,
                                     var td: Int = 0, var ta: Int = 0)

  /** Decode one baseline JPEG starting at `off`. Fails loudly (
    * IllegalArgumentException) on anything malformed or unsupported:
    * bad magic, truncated segments, progressive/arithmetic/hierarchical
    * SOFs, 12-bit precision, missing quant/Huffman tables, sampling
    * factors outside {1,2}, invalid Huffman codes, coefficient overruns,
    * or a missing EOI. */
  def decodePixels(bytes: Array[Byte], off: Int = 0): Decoded = {
    require(bytes.length - off >= 4, "not a JPEG: too short")
    require((bytes(off) & 0xff) == 0xff && (bytes(off + 1) & 0xff) == 0xd8,
      "not a JPEG: missing SOI")
    var pos = off + 2
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var width = 0; var height = 0
    var restartInterval = 0
    var frameSeen = false

    def u8(p: Int): Int = { require(p < bytes.length, s"truncated at $p"); bytes(p) & 0xff }
    def u16(p: Int): Int = (u8(p) << 8) | u8(p + 1)

    while (true) {
      require(u8(pos) == 0xff, f"expected marker at offset $pos, got 0x${u8(pos)}%02X")
      var m = u8(pos + 1)
      while (m == 0xff) { pos += 1; m = u8(pos + 1) } // optional fill bytes
      pos += 2
      m match {
        case 0xd9 => // EOI without a scan: structurally valid only after SOS
          throw new IllegalArgumentException("EOI before any scan data")
        case 0xc0 | 0xc1 => // baseline / extended sequential Huffman
          val len = u16(pos); require(pos + len <= bytes.length, "truncated SOF")
          val precision = u8(pos + 2)
          require(precision == 8, s"unsupported sample precision $precision")
          height = u16(pos + 3); width = u16(pos + 5)
          require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
          val nc = u8(pos + 7)
          require(nc == 1 || nc == 3, s"unsupported component count $nc")
          require(len == 8 + 3 * nc, "SOF length inconsistent with component count")
          comps = Array.tabulate(nc) { i =>
            val base = pos + 8 + 3 * i
            val hv = u8(base + 1)
            val c = Component(u8(base), hv >> 4, hv & 15, u8(base + 2))
            require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
              s"unsupported sampling ${c.h}x${c.v} for component ${c.id}")
            require(c.tq < 4, s"bad quant table id ${c.tq}")
            c
          }
          frameSeen = true
          pos += len
        case 0xc2 => throw new IllegalArgumentException(
          "progressive JPEG (SOF2) not supported")
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
          throw new IllegalArgumentException(
            f"unsupported SOF marker 0xFF$m%02X (non-baseline coding)")
        case 0xdb => // DQT: one or more tables
          val len = u16(pos); require(pos + len <= bytes.length, "truncated DQT")
          var p = pos + 2
          while (p < pos + len) {
            val pq = u8(p) >> 4; val tq = u8(p) & 15
            require(tq < 4, s"bad DQT table id $tq")
            require(pq == 0 || pq == 1, s"bad DQT precision $pq")
            val step = if (pq == 0) 1 else 2
            require(p + 1 + 64 * step <= pos + len, "truncated DQT table")
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              t(Zigzag(k)) = if (pq == 0) u8(p + 1 + k) else u16(p + 1 + 2 * k)
              k += 1
            }
            quant(tq) = t
            p += 1 + 64 * step
          }
          pos += len
        case 0xc4 => // DHT: one or more tables
          val len = u16(pos); require(pos + len <= bytes.length, "truncated DHT")
          var p = pos + 2
          while (p < pos + len) {
            val tc = u8(p) >> 4; val th = u8(p) & 15
            require(tc <= 1, s"bad DHT class $tc")
            require(th < 4, s"bad DHT table id $th")
            require(p + 17 <= pos + len, "truncated DHT header")
            val bits = Array.tabulate(16)(i => u8(p + 1 + i))
            val nv = bits.sum
            require(p + 17 + nv <= pos + len, "truncated DHT values")
            val vals = Array.tabulate(nv)(i => bytes(p + 17 + i))
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
            p += 17 + nv
          }
          pos += len
        case 0xdd => // DRI
          val len = u16(pos); require(len == 4, "bad DRI length")
          restartInterval = u16(pos + 2)
          pos += len
        case x if (x >= 0xe0 && x <= 0xef) || x == 0xfe => // APPn / COM
          val len = u16(pos); require(pos + len <= bytes.length, s"truncated APP/COM")
          require(len >= 2, "bad segment length")
          pos += len
        case 0xda => // SOS — decode the (single, interleaved) scan
          require(frameSeen, "SOS before SOF")
          val len = u16(pos); require(pos + len <= bytes.length, "truncated SOS")
          val ns = u8(pos + 2)
          require(ns == comps.length,
            s"non-interleaved scans not supported ($ns of ${comps.length} components)")
          for (i <- 0 until ns) {
            val cs = u8(pos + 3 + 2 * i)
            val c = comps.find(_.id == cs).getOrElse(
              throw new IllegalArgumentException(s"SOS references unknown component $cs"))
            c.td = u8(pos + 4 + 2 * i) >> 4
            c.ta = u8(pos + 4 + 2 * i) & 15
            require(c.td < 4 && c.ta < 4, s"bad SOS table ids ${c.td}/${c.ta}")
            require(dcTables(c.td) != null, s"missing DC table ${c.td}")
            require(acTables(c.ta) != null, s"missing AC table ${c.ta}")
            require(quant(c.tq) != null, s"missing quant table ${c.tq}")
          }
          require(u8(pos + 3 + 2 * ns) == 0 && u8(pos + 4 + 2 * ns) == 63 &&
            u8(pos + 5 + 2 * ns) == 0,
            "spectral selection/approximation must be 0..63/0 for baseline")
          pos += len
          return decodeScan(bytes, pos, width, height, comps, quant,
            dcTables, acTables, restartInterval)
        case other => throw new IllegalArgumentException(
          f"unsupported marker 0xFF$other%02X at offset ${pos - 2}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def decodeScan(bytes: Array[Byte], scanStart: Int,
                         width: Int, height: Int, comps: Array[Component],
                         quant: Array[Array[Int]],
                         dcTables: Array[HuffTable], acTables: Array[HuffTable],
                         restartInterval: Int): Decoded = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcuW = 8 * hMax
    val mcuH = 8 * vMax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // per-component planes at MCU-grid resolution
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i =>
      new Array[Byte](planeW(i) * planeH(i))).toArray
    val br = new BitReader(bytes, scanStart)
    val preds = new Array[Int](comps.length)
    val coef = new Array[Double](64)
    var mcu = 0
    var rstIdx = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.restart(rstIdx)
          rstIdx = (rstIdx + 1) & 7
          java.util.Arrays.fill(preds, 0)
        }
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val qt = quant(c.tq)
          var sub = 0
          while (sub < c.h * c.v) {
            val bx = mx * c.h + sub % c.h
            val byy = my * c.v + sub / c.h
            // entropy-decode one block
            java.util.Arrays.fill(coef, 0.0)
            val dcSym = dcTables(c.td).decode(br)
            require(dcSym <= 11, s"bad DC category $dcSym")
            preds(ci) += extend(br.readBits(dcSym), dcSym)
            coef(0) = preds(ci).toDouble * qt(0)
            var k = 1
            var done = false
            while (!done && k < 64) {
              val sym = acTables(c.ta).decode(br)
              val run = sym >> 4
              val size = sym & 15
              if (size == 0) {
                if (run == 15) {
                  k += 16 // ZRL — must still leave room for the following
                  // nonzero coefficient (a conforming encoder only emits
                  // ZRL before one); past-the-end fails like any overrun
                  require(k < 64, "AC coefficient index overrun (ZRL)")
                } else { require(run == 0, f"bad AC symbol 0x$sym%02X"); done = true }
              } else {
                k += run
                require(k < 64, "AC coefficient index overrun")
                coef(Zigzag(k)) = extend(br.readBits(size), size).toDouble * qt(Zigzag(k))
                k += 1
              }
            }
            val px = idct(coef)
            val plane = planes(ci)
            val pw = planeW(ci)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val v = Math.round(px(y * 8 + x) + 128.0).toInt
                plane((byy * 8 + y) * pw + bx * 8 + x) =
                  math.max(0, math.min(255, v)).toByte
                x += 1
              }
              y += 1
            }
            sub += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    // expect EOI (byte-aligned) right after the entropy data
    var p = br.pos
    require(p + 2 <= bytes.length, "truncated before EOI")
    while ((bytes(p) & 0xff) == 0xff && p + 2 < bytes.length &&
      (bytes(p + 1) & 0xff) == 0xff) p += 1
    require((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xff) == 0xd9,
      f"expected EOI, got 0x${u8b(bytes, p)}%02X${u8b(bytes, p + 1)}%02X")
    val end = p + 2

    if (comps.length == 1) {
      val outPx = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * pw, outPx, y * width, width)
        y += 1
      }
      Decoded(width, height, 1, outPx, end)
    } else {
      // chroma upsampling by replication + BT.601 YCbCr -> RGB
      val outPx = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            val sx = x * c.h / hMax
            val sy = y * c.v / vMax
            planes(ci)(sy * planeW(ci) + sx) & 0xff
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte =
            math.max(0, math.min(255, Math.round(d).toInt)).toByte
          val o = (y * width + x) * 3
          outPx(o) = clamp(yy + 1.402 * cr)
          outPx(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          outPx(o + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
      Decoded(width, height, 3, outPx, end)
    }
  }

  private def u8b(bytes: Array[Byte], p: Int): Int =
    if (p < bytes.length) bytes(p) & 0xff else -1

  /** Decode stats for the q182 gate: (width, height, n_blocks,
    * content_sum = unsigned sum of every decoded sample, corner = the
    * top-left decoded sample, end). */
  def decodeStats(bytes: Array[Byte], off: Int = 0): (Int, Int, Int, Long, Int, Int) = {
    val d = decodePixels(bytes, off)
    var sum = 0L
    var i = 0
    while (i < d.samples.length) { sum += d.samples(i) & 0xff; i += 1 }
    val nBlocks = ((d.width + 7) / 8) * ((d.height + 7) / 8)
    (d.width, d.height, nBlocks, sum, d.samples(0) & 0xff, d.end)
  }
}
