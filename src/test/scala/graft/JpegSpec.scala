package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Jpeg

/** Baseline JPEG codec: exactness on the flat-block gate subspace, lossy
  * roundtrip tolerance on real content, CROSS-VALIDATION against the
  * JDK's independent ImageIO JPEG implementation in both directions, and
  * fail-loud behavior on hostile bytes. */
class JpegSpec extends AnyFunSuite {

  private def flatBlocks(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] = {
    val px = new Array[Byte](w * h)
    for (y <- 0 until h; x <- 0 until w)
      px(y * w + x) = v(x / 8, y / 8).toByte
    px
  }

  test("flat even-valued blocks roundtrip LOSSLESSLY (the q182 gate contract)") {
    // DC quant step 16 and even level-shifted values => quantized DC is
    // exact, AC all zero => IDCT reconstructs the constant bit-exactly
    val w = 32; val h = 24
    def v(bx: Int, by: Int): Int = 2 * ((37 * bx + 53 * by * 4 + 11) % 128)
    val px = flatBlocks(w, h, v)
    val dec = Jpeg.decodePixels(Jpeg.encodeGray(w, h, px))
    assert(dec.width == w && dec.height == h && dec.nComp == 1)
    assert(dec.samples.sameElements(px), "flat-block decode must be exact")
    assert(dec.end == Jpeg.encodeGray(w, h, px).length)
  }

  test("full-range DC differences (categories 0-7) and byte stuffing survive") {
    // adjacent blocks swing between 0 and 254 => DPCM diffs near +/-127,
    // long 1-runs in the amplitude bits force 0xFF stuffing
    val w = 64; val h = 8
    val px = flatBlocks(w, h, (bx, _) => if (bx % 2 == 0) 0 else 254)
    val bytes = Jpeg.encodeGray(w, h, px)
    assert(Jpeg.decodePixels(bytes).samples.sameElements(px))
  }

  test("non-flat content roundtrips within JPEG quantization tolerance") {
    val w = 24; val h = 16
    val px = Array.tabulate(w * h)(i => ((i * 7 + (i / w) * 13) % 256).toByte)
    val dec = Jpeg.decodePixels(Jpeg.encodeGray(w, h, px))
    assert(dec.width == w && dec.height == h)
    // Annex-K quantization at this block energy stays well inside +/-64;
    // the point is the Huffman AC path (runs, ZRL, EOB) decodes at all
    // and lands near the source, not bit-exactness
    val maxErr = px.indices.map(i =>
      math.abs((px(i) & 0xff) - (dec.samples(i) & 0xff))).max
    assert(maxErr <= 96, s"max reconstruction error $maxErr")
  }

  test("non-multiple-of-8 dimensions: edge blocks pad and crop correctly") {
    val w = 13; val h = 11
    def v(bx: Int, by: Int): Int = 2 * ((17 * bx + 29 * by + 5) % 128)
    val px = flatBlocks(w, h, v)
    val dec = Jpeg.decodePixels(Jpeg.encodeGray(w, h, px))
    assert(dec.width == w && dec.height == h)
    assert(dec.samples.sameElements(px))
  }

  test("ImageIO (independent JDK codec) decodes our encoder's output") {
    val w = 40; val h = 24
    val px = Array.tabulate(w * h)(i => ((i * 31) % 256).toByte)
    val bytes = Jpeg.encodeGray(w, h, px)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    val ours = Jpeg.decodePixels(bytes)
    // two independent decoders of the same baseline stream: IDCT impls
    // may differ by a few counts (T.81 Annex A accuracy), not more
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w) {
      val theirs = img.getRaster.getSample(x, y, 0)
      val mine = ours.samples(y * w + x) & 0xff
      maxDiff = math.max(maxDiff, math.abs(theirs - mine))
    }
    assert(maxDiff <= 3, s"decoders disagree by $maxDiff")
  }

  test("our decoder reads ImageIO's independently-encoded grayscale JPEG") {
    val w = 32; val h = 32
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x * 8 + y * 5) % 256)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val bytes = out.toByteArray
    val dec = Jpeg.decodePixels(bytes)
    assert(dec.width == w && dec.height == h && dec.nComp == 1)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w)
      maxDiff = math.max(maxDiff,
        math.abs(ref.getRaster.getSample(x, y, 0) - (dec.samples(y * w + x) & 0xff)))
    assert(maxDiff <= 3, s"decoders disagree by $maxDiff on ImageIO bytes")
  }

  test("our decoder reads ImageIO's COLOR JPEG (YCbCr path) on chroma-flat content") {
    // solid color => no chroma edges, so replication vs fancy upsampling
    // can't diverge; pins the 3-component scan + YCbCr->RGB math
    for (rgb <- Seq(0x406080, 0xc03020, 0x10a070)) {
      val w = 24; val h = 16
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out))
      val bytes = out.toByteArray
      val dec = Jpeg.decodePixels(bytes)
      assert(dec.width == w && dec.height == h && dec.nComp == 3)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var maxDiff = 0
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        val theirs = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xff
        val mine = dec.samples((y * w + x) * 3 + c) & 0xff
        maxDiff = math.max(maxDiff, math.abs(theirs - mine))
      }
      assert(maxDiff <= 4, f"color decode off by $maxDiff on 0x$rgb%06X")
    }
  }

  test("restart intervals (DRI/RSTn): roundtrip exact, predictor resets, ImageIO agrees") {
    val w = 48; val h = 16 // 12 MCUs: interval 5 -> RST0, RST1 mid-stream
    def v(bx: Int, by: Int): Int = 2 * ((41 * bx + 67 * by + 13) % 128)
    val px = flatBlocks(w, h, v)
    for (ri <- Seq(1, 2, 5, 7)) {
      val bytes = Jpeg.encodeGray(w, h, px, restartInterval = ri)
      val dec = Jpeg.decodePixels(bytes)
      assert(dec.samples.sameElements(px), s"restart interval $ri broke decode")
      // the independent JDK codec must also accept our RST stream
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"ImageIO rejected our DRI=$ri stream")
      var maxDiff = 0
      for (y <- 0 until h; x <- 0 until w)
        maxDiff = math.max(maxDiff, math.abs(
          img.getRaster.getSample(x, y, 0) - (dec.samples(y * w + x) & 0xff)))
      assert(maxDiff <= 3)
    }
    // a CORRUPTED restart marker index must fail loudly
    val bytes = Jpeg.encodeGray(w, h, px, restartInterval = 2)
    var p = 2
    var found = -1
    while (found < 0 && p < bytes.length - 1) {
      if ((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xff) == 0xd0) found = p
      p += 1
    }
    assert(found > 0, "expected an RST0 marker in the stream")
    val bad = bytes.clone()
    bad(found + 1) = 0xd5.toByte // wrong restart index
    intercept[IllegalArgumentException] { Jpeg.decodePixels(bad) }
  }

  test("MJPEG concatenation: decode consumes exactly one frame and reports end") {
    val w = 16; val h = 8
    def frame(seed: Int): Array[Byte] =
      Jpeg.encodeGray(w, h, flatBlocks(w, h, (bx, _) => 2 * ((seed + bx * 19) % 128)))
    val stream = frame(3) ++ frame(57) ++ frame(101)
    var off = 0
    var n = 0
    val sums = Seq.newBuilder[Long]
    while (off < stream.length) {
      val (dw, dh, _, sum, _, end) = Jpeg.decodeStats(stream, off)
      assert(dw == w && dh == h)
      sums += sum
      off = end
      n += 1
    }
    assert(n == 3)
    assert(sums.result().distinct.size == 3)
  }

  test("hostile bytes fail loudly, never overread") {
    val good = Jpeg.encodeGray(16, 16,
      flatBlocks(16, 16, (bx, by) => 2 * ((bx + by * 3 + 7) % 128)))
    // bad magic
    intercept[IllegalArgumentException] {
      Jpeg.decodePixels(Array[Byte](0, 1, 2, 3, 4, 5, 6, 7))
    }
    // truncations at EVERY prefix length must throw, not loop or return garbage
    for (cut <- Seq(2, 4, 10, 20, good.length / 2, good.length - 1)) {
      intercept[IllegalArgumentException] {
        Jpeg.decodePixels(java.util.Arrays.copyOf(good, cut))
      }
    }
    // progressive SOF rejected by marker, not misdecoded
    val prog = good.clone()
    val sofAt = {
      var p = 2
      while (!((prog(p) & 0xff) == 0xff && (prog(p + 1) & 0xff) == 0xc0)) p += 1
      p
    }
    prog(sofAt + 1) = 0xc2.toByte
    val e = intercept[IllegalArgumentException] { Jpeg.decodePixels(prog) }
    assert(e.getMessage.contains("progressive"))
    // zeroed-out dimensions
    val zdim = good.clone()
    zdim(sofAt + 5) = 0; zdim(sofAt + 6) = 0 // height -> 0
    intercept[IllegalArgumentException] { Jpeg.decodePixels(zdim) }
    // corrupted entropy stream: flipping bytes mid-scan must either decode
    // to a (wrong) image or throw IllegalArgumentException - never hang or
    // throw an unclassified error like ArrayIndexOutOfBounds
    for (i <- good.length - 20 until good.length - 2) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x55).toByte
      try { Jpeg.decodePixels(bad); () }
      catch { case _: IllegalArgumentException => () }
    }
  }
}
