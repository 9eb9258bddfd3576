package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal.{Fixtures, MediaCodec}

/** Golden tests for the REAL media decoders: the fixture bytes in the
  * first two tests are HAND-ASSEMBLED from the public BMP/RIFF layout
  * specs (independent of the repo's encoders), with expected features
  * computed by hand — so an encoder/decoder pair that agreed on a
  * shared misreading of the format would still fail here.
  */
class MultimodalSpec extends AnyFunSuite {

  test("hand-crafted 2x2 24-bit BMP decodes to the hand-computed luma") {
    // w=2, h=2, rowSize=8 (2 pad bytes), bottom-up rows, BGR order.
    // Top-down pixels: (0,0) R10 G20 B30, (1,0) R40 G50 B60,
    //                  (0,1) R70 G80 B90, (1,1) R110 G120 B130
    val bytes = Array[Int](
      'B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
      40, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0, // info: size, w, h
      1, 0, 24, 0, 0, 0, 0, 0, 16, 0, 0, 0, // planes, bpp, comp, imgsz
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, // ppm, colors
      90, 80, 70, 130, 120, 110, 0, 0, // stored row 0 = image row y=1
      30, 20, 10, 60, 50, 40, 0, 0 // stored row 1 = image row y=0
    ).map(_.toByte)
    val d = MediaCodec.decodeBmp(7L, bytes)
    assert(d.n_bytes == 70L && d.width.contains(2L) && d.height.contains(2L))
    // luma sum = 299*(10+40+70+110) + 587*(20+50+80+120)
    //          + 114*(30+60+90+130) = 262600; /4000 = 65.65
    assert(d.mean_luma.contains(65.65))
    assert(d.n_samples.isEmpty && d.mean_abs.isEmpty)
  }

  test("hand-crafted 3-sample PCM WAV decodes to the hand-computed stats; chunk walk skips foreign chunks") {
    def wav(extraChunk: Boolean): Array[Byte] = {
      val extra = if (extraChunk)
        Array[Int]('j', 'u', 'n', 'k', 4, 0, 0, 0, 9, 9, 9, 9) else Array[Int]()
      (Array[Int](
        'R', 'I', 'F', 'F', 42 + extra.length, 0, 0, 0, 'W', 'A', 'V', 'E',
        'f', 'm', 't', ' ', 16, 0, 0, 0,
        1, 0, 1, 0, // PCM, mono
        0x40, 0x1f, 0, 0, // 8000 Hz
        0x80, 0x3e, 0, 0, // byte rate 16000
        2, 0, 16, 0) ++ // block align, bits
        extra ++
        Array[Int]('d', 'a', 't', 'a', 6, 0, 0, 0,
          0xe8, 0x03, // +1000
          0x30, 0xf8, // -2000
          0xff, 0x7f) // +32767
      ).map(_.toByte)
    }
    for (withJunk <- Seq(false, true)) {
      val d = MediaCodec.decodeWav(9L, wav(withJunk))
      assert(d.n_samples.contains(3L) && d.duration_ms.contains(0L))
      // mean |s| = (1000 + 2000 + 32767) / 3 = 11922.333333 (6 dp)
      assert(d.mean_abs.contains(11922.333333), s"junk=$withJunk: $d")
      assert(d.width.isEmpty && d.mean_luma.isEmpty)
    }
  }

  test("fixture round-trip matches the closed-form content for a sample of ids") {
    def lumaSum(id: Long, w: Long, h: Long): Long = {
      var lsum = 0L
      for (y <- 0L until h; x <- 0L until w)
        lsum += 299 * ((id + x + 11 * y) % 256) +
          587 * ((id + 5 * x + y) % 256) + 114 * ((id + 3 * x + 7 * y) % 256)
      lsum
    }
    for (id <- Seq(0L, 1L, 2L, 17L, 100L, 12345L)) {
      val db = MediaCodec.decodeBmp(id, Fixtures.bmpBytes(id))
      val (bw, bh) = (4 + id % 5, 3 + id % 4)
      assert(db.width.contains(bw) && db.height.contains(bh))
      assert(db.mean_luma.contains(
        math.floor(lumaSum(id, bw, bh) / (1000.0 * bw * bh) * 1e6 + 0.5) / 1e6))

      val dw = MediaCodec.decodeWav(id, Fixtures.wavBytes(id))
      val n = 64 + id % 129
      assert(dw.n_samples.contains(n) && dw.duration_ms.contains(n * 1000 / 8000))
      val asum = (0L until n)
        .map(i => math.abs((id * 31 + i * 17) % 65536 - 32768)).sum
      assert(dw.mean_abs.contains(
        math.floor(asum / n.toDouble * 1e6 + 0.5) / 1e6))

      // PNG: same pixel formula as BMP but new dims, per-row filters
      // cycling all five types, a real zlib stream, CRC'd chunks —
      // and the closed-form stored-block file size
      val dp = MediaCodec.decodePng(id, Fixtures.pngBytes(id))
      val (pw, ph) = (5 + id % 4, 4 + id % 3)
      assert(dp.width.contains(pw) && dp.height.contains(ph))
      assert(dp.n_bytes == 68 + ph * (1 + 3 * pw))
      assert(dp.mean_luma.contains(
        math.floor(lumaSum(id, pw, ph) / (1000.0 * pw * ph) * 1e6 + 0.5) / 1e6))
    }
  }

  /** Hand-assembled PNG (independent of the repo's encoder): stored
    * zlib block, CRCs via java.util.zip (the chunk LAYOUT is the thing
    * under test, not the CRC polynomial).
    */
  private def mkPng(w: Int, h: Int, scanlines: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      bos.write(be32(data.length.toLong))
      val td = typ.getBytes("US-ASCII") ++ data
      bos.write(td)
      val crc = new java.util.zip.CRC32(); crc.update(td)
      bos.write(be32(crc.getValue))
    }
    bos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](8, 2, 0, 0, 0))
    val z = new java.io.ByteArrayOutputStream()
    z.write(Array[Byte](0x78, 0x01, 0x01))
    z.write(Array((scanlines.length & 0xff).toByte,
      ((scanlines.length >> 8) & 0xff).toByte,
      (~scanlines.length & 0xff).toByte,
      ((~scanlines.length >> 8) & 0xff).toByte))
    z.write(scanlines)
    val ad = new java.util.zip.Adler32(); ad.update(scanlines)
    z.write(be32(ad.getValue))
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.empty[Byte])
    bos.toByteArray
  }

  test("hand-crafted 2x2 PNG with None+Up filters decodes to the hand-computed luma") {
    // row 0 (filter 0, raw): (10,20,30) (40,50,60)
    // row 1 (filter 2, Up, deltas +60 per channel): raw (70,80,90) (100,110,120)
    val scan = Array[Int](
      0, 10, 20, 30, 40, 50, 60,
      2, 60, 60, 60, 60, 60, 60).map(_.toByte)
    val d = MediaCodec.decodePng(3L, mkPng(2, 2, scan))
    assert(d.width.contains(2L) && d.height.contains(2L))
    // luma sum = 299*(10+40+70+100) + 587*(20+50+80+110) + 114*(30+60+90+120)
    //          = 65780 + 152620 + 34200 = 252600; /4000 = 63.15
    assert(d.mean_luma.contains(63.15), d)
    assert(d.n_samples.isEmpty && d.mean_abs.isEmpty)
  }

  test("hostile PNGs fail named: bad filter, CRC corruption, truncation, short zlib") {
    // filter type 7 (invalid) — rebuilt with correct CRCs/adler so it
    // reaches the reconstruction stage
    val badFilt = Array[Int](7, 1, 2, 3).map(_.toByte)
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(1L, mkPng(1, 1, badFilt))
    }
    assert(e1.getMessage.contains("filter type 7"))
    // flip a byte inside the fixture's IDAT payload: the chunk CRC
    // must catch it before any pixel math
    val fx = Fixtures.pngBytes(8L).clone()
    fx(8 + 25 + 8 + 10) = (fx(8 + 25 + 8 + 10) ^ 0x40).toByte
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(8L, fx)
    }
    assert(e2.getMessage.contains("CRC mismatch"))
    // truncation mid-chunk
    val whole = Fixtures.pngBytes(8L)
    val e3 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(8L, whole.take(whole.length - 8))
    }
    assert(e3.getMessage.contains("out of bounds") ||
      e3.getMessage.contains("truncated"))
    // a VALID zlib stream carrying fewer scanline bytes than h*stride:
    // the inflater finishes early and the short raster must fail named
    val short = Array[Int](0, 1, 2, 3).map(_.toByte) // 1 row of a 2-row image
    val e4 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(9L, mkPng(1, 2, short))
    }
    assert(e4.getMessage.contains("truncated") ||
      e4.getMessage.contains("short"))
    // not a PNG at all
    val e5 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(2L, Array.fill[Byte](32)(0))
    }
    assert(e5.getMessage.contains("not a PNG"))
    // hostile IHDR width near 2³¹/bpp: an Int stride would overflow
    // negative, slip past the size guard, and die with a raw
    // NegativeArraySizeException — must fail named instead
    val e6 = intercept[IllegalArgumentException] {
      MediaCodec.decodePng(4L, mkPng(1000000000, 1, Array[Byte](0, 1, 2, 3)))
    }
    assert(e6.getMessage.contains("raster too large"), e6.getMessage)
  }

  test("malformed media fails with a named error, not garbage features") {
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodeBmp(1L, Array.fill[Byte](60)(0))
    }
    assert(e1.getMessage.contains("not a BMP"))
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodeWav(2L, "RIFFxxxxNOPE".getBytes("US-ASCII"))
    }
    assert(e2.getMessage.contains("not a WAV"))
  }

  test("adversarial headers fail named: truncated BMP, zero width, hostile WAV chunk sizes") {
    // a valid BMP truncated mid-pixel-data: named, not AIOOBE
    val whole = Fixtures.bmpBytes(2L)
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodeBmp(2L, whole.take(whole.length - 4))
    }
    assert(e1.getMessage.contains("out of bounds"))
    // width 0 passes no-op pixel loops if unchecked → would emit NaN
    val zeroW = Fixtures.bmpBytes(2L).clone()
    zeroW(18) = 0; zeroW(19) = 0; zeroW(20) = 0; zeroW(21) = 0
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodeBmp(2L, zeroW)
    }
    assert(e2.getMessage.contains("non-positive BMP width"))
    // WAV chunk with NEGATIVE declared size: unchecked, the walk
    // offset never advances → infinite loop inside the executor
    val negChunk = Fixtures.wavBytes(3L).clone()
    negChunk(16) = -1; negChunk(17) = -1; negChunk(18) = -1; negChunk(19) = -1
    val e3 = intercept[IllegalArgumentException] {
      MediaCodec.decodeWav(3L, negChunk)
    }
    assert(e3.getMessage.contains("out of bounds"))
    // data chunk declaring more samples than the buffer holds
    val wav = Fixtures.wavBytes(3L)
    val e4 = intercept[IllegalArgumentException] {
      MediaCodec.decodeWav(3L, wav.take(wav.length - 10))
    }
    assert(e4.getMessage.contains("out of bounds"))
  }

  /** Hand-assembled Y4M (independent of the repo's encoder): 2×2
    * C420jpeg, three frames, one parameterized FRAME marker.
    */
  private def mkY4m(header: String, frames: Seq[(String, Array[Byte])])
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(header.getBytes("US-ASCII"))
    frames.foreach { case (marker, planes) =>
      bos.write(marker.getBytes("US-ASCII"))
      bos.write(planes)
    }
    bos.toByteArray
  }

  test("hand-crafted 3-frame Y4M samples every 2nd frame to the hand-computed mean Y") {
    // w=2 h=2 C420: 4 Y bytes + 1 U + 1 V per frame
    def fr(y: Array[Int]): Array[Byte] =
      (y ++ Array(7, 9)).map(_.toByte) // chroma bytes must be skipped
    val bytes = mkY4m("YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420jpeg\n", Seq(
      ("FRAME\n", fr(Array(10, 20, 30, 40))), // mean 25.0
      ("FRAME Xskip\n", fr(Array(50, 60, 70, 80))), // skipped by cadence
      ("FRAME\n", fr(Array(90, 100, 110, 120))))) // mean 105.0
    val s = MediaCodec.decodeY4m(5L, bytes, everyN = 2)
    assert(s.map(f => (f.frame_idx, f.frame_ms, f.mean_y)) ==
      Seq((0L, 0L, 25.0), (2L, 80L, 105.0)), s)
    assert(s.forall(f => f.width == 2L && f.height == 2L))
    // cadence 1 samples every frame, including the parameterized marker
    assert(MediaCodec.decodeY4m(5L, bytes, everyN = 1)
      .map(_.mean_y) == Seq(25.0, 65.0, 105.0))
  }

  test("hostile Y4M fails named: magic, chroma, odd dims, truncation, marker, rate") {
    def f(y: Array[Int]) = (y ++ Array(0, 0)).map(_.toByte)
    val ok = mkY4m("YUV4MPEG2 W2 H2 F25:1 C420\n",
      Seq(("FRAME\n", f(Array(1, 2, 3, 4)))))
    // bad magic
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(1L, "YUV4MPEG3 W2 H2\nFRAME\n".getBytes, 1)
    }
    assert(e1.getMessage.contains("not a Y4M"))
    // 4:4:4 chroma unsupported (plane arithmetic would be wrong)
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(2L, mkY4m("YUV4MPEG2 W2 H2 F25:1 C444\n",
        Seq(("FRAME\n", f(Array(1, 2, 3, 4))))), 1)
    }
    assert(e2.getMessage.contains("only 4:2:0"))
    // odd width under 4:2:0
    val e3 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(3L, mkY4m("YUV4MPEG2 W3 H2 F25:1 C420\n",
        Seq(("FRAME\n", Array.fill[Byte](9)(0)))), 1)
    }
    assert(e3.getMessage.contains("odd Y4M dims"))
    // truncated frame payload
    val e4 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(4L, ok.take(ok.length - 2), 1)
    }
    assert(e4.getMessage.contains("truncated"))
    // corrupt FRAME marker ("FRAME\n" + 6 plane bytes trail the file)
    val bad = ok.clone(); bad(ok.length - 12) = 'X'.toByte
    val e5 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(5L, bad, 1)
    }
    assert(e5.getMessage.contains("FRAME marker"))
    // a header with no frames at all
    val e6 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(6L, "YUV4MPEG2 W2 H2 F25:1 C420\n".getBytes, 1)
    }
    assert(e6.getMessage.contains("no Y4M frames"))
    // zero frame rate would divide by zero in the timebase
    val e7 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(7L, mkY4m("YUV4MPEG2 W2 H2 F0:1 C420\n",
        Seq(("FRAME\n", f(Array(1, 2, 3, 4))))), 1)
    }
    assert(e7.getMessage.contains("frame rate"))
    // unparseable numeric tag
    val e8 = intercept[IllegalArgumentException] {
      MediaCodec.decodeY4m(8L, mkY4m("YUV4MPEG2 Wx H2 F25:1 C420\n",
        Seq(("FRAME\n", f(Array(1, 2, 3, 4))))), 1)
    }
    assert(e8.getMessage.contains("bad Y4M header tag"))
  }

  test("Y4M fixture round-trip matches the closed-form sampled frames") {
    for (id <- Seq(0L, 1L, 2L, 17L, 100L, 12345L)) {
      val (w, h, nf) = (4 + 2 * (id % 3), 2 + 2 * (id % 2), 2 + id % 4)
      val num = 24 + id % 2
      val s = MediaCodec.decodeY4m(id, Fixtures.y4mBytes(id), everyN = 2)
      assert(s.map(_.frame_idx) == (0L until nf).filter(_ % 2 == 0), s"id=$id")
      s.foreach { fs =>
        assert(fs.width == w && fs.height == h)
        assert(fs.frame_ms == fs.frame_idx * 1000 / num)
        val ysum = (for (y <- 0L until h; x <- 0L until w)
          yield (id + x + 11 * y + 23 * fs.frame_idx) % 256).sum
        assert(fs.mean_y ==
          math.floor(ysum / (w * h).toDouble * 1e6 + 0.5) / 1e6, s"id=$id $fs")
      }
    }
  }

  test("box-filter resize: hand-computed 3x3→2x2 block means, factor-1 identity") {
    // channels all equal 10·(3y+x): blocks (0,0)→20, (1,0)→35,
    // (0,1)→65, (1,1)→80 — edge blocks average their true extent
    val px = Array.tabulate(27)(i => (10 * (i / 3)).toByte)
    val (ow, oh, out) = MediaCodec.resizePixels(3, 3, px, 2)
    assert((ow, oh) == (2, 2))
    assert(out.map(_ & 0xff).toSeq ==
      Seq(20, 20, 20, 35, 35, 35, 65, 65, 65, 80, 80, 80))
    assert(MediaCodec.lumaMean(out, ow, oh) == 50.0)
    // factor 1 is the identity
    val (iw, ih, ident) = MediaCodec.resizePixels(3, 3, px, 1)
    assert((iw, ih) == (3, 3) && ident.sameElements(px))
  }

  test("resize over the real BMP/PNG fixtures matches an independent block recompute") {
    for (id <- Seq(0L, 3L, 9L, 42L, 101L)) {
      for ((fmt, bytes, w, h, chs) <- Seq(
        ("bmp", Fixtures.bmpBytes(id), (4 + id % 5).toInt, (3 + id % 4).toInt,
          Seq[(Long, Long) => Long](
            (x, y) => (id + x + 11 * y) % 256,
            (x, y) => (id + 5 * x + y) % 256,
            (x, y) => (id + 3 * x + 7 * y) % 256)),
        ("png", Fixtures.pngBytes(id), (5 + id % 4).toInt, (4 + id % 3).toInt,
          Seq[(Long, Long) => Long](
            (x, y) => (id + x + 11 * y) % 256,
            (x, y) => (id + 5 * x + y) % 256,
            (x, y) => (id + 3 * x + 7 * y) % 256)))) {
        val (pw, ph, px) = if (fmt == "bmp") MediaCodec.pixelsBmp(id, bytes)
          else MediaCodec.pixelsPng(id, bytes)
        assert((pw, ph) == (w, h), s"$fmt id=$id")
        val (ow, oh, out) = MediaCodec.resizePixels(pw, ph, px, 2)
        assert((ow, oh) == ((w + 1) / 2, (h + 1) / 2))
        // independent recompute straight from the pixel formulas
        var lsum = 0L
        for (by <- 0 until oh; bx <- 0 until ow) {
          val (y1, x1) = (math.min(h, by * 2 + 2), math.min(w, bx * 2 + 2))
          val cnt = (y1 - by * 2) * (x1 - bx * 2)
          val means = chs.map { ch =>
            (for (y <- by * 2 until y1; x <- bx * 2 until x1)
              yield ch(x.toLong, y.toLong)).sum / cnt
          }
          val p = (by * ow + bx) * 3
          assert(out(p) == means(0).toByte && out(p + 1) == means(1).toByte &&
            out(p + 2) == means(2).toByte, s"$fmt id=$id block ($bx,$by)")
          lsum += 299 * means(0) + 587 * means(1) + 114 * means(2)
        }
        assert(MediaCodec.lumaMean(out, ow, oh) ==
          math.floor(lsum / (1000.0 * ow * oh) * 1e6 + 0.5) / 1e6)
      }
    }
  }

  // ------------------------------------------------------------------
  // FLAC: the hand-rolled fixed-predictor audio stack (rice residuals,
  // CRC-8/CRC-16, UTF-8 frame numbers)
  // ------------------------------------------------------------------

  /** All 224 fixture samples, recomputed independently (plain
    * arithmetic, no shared code with encoder or decoder).
    */
  private def flacSamples(id: Long): Seq[Long] = {
    val c = id % 256 - 128
    val base = 3 * id % 200
    val step = 1 + id % 5
    val x0 = id % 50
    val v = 1 + id % 3
    Seq.fill(64)(c) ++
      (0 until 64).map(i => base + step * i) ++
      (0 until 64).map(i => (id + 17 * i) % 512 - 256) ++
      (0 until 32).map(i => x0 + v * i + i.toLong * (i - 1) / 2)
  }

  test("FLAC fixture round-trip matches the closed-form sample features") {
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 17L, 100L, 255L, 12345L)) {
      val bytes = Fixtures.flacBytes(id)
      assert(bytes.length == 256 + 8 * ((1 + id % 5) / 2).toInt)
      val d = MediaCodec.decodeFlac(id, bytes)
      val want = flacSamples(id)
      assert(d.n_samples.contains(224L))
      assert(d.duration_ms.contains(28L)) // 224 / 8 kHz
      val absSum = want.map(math.abs).sum
      assert(d.mean_abs.contains(
        graft.functions.Parity.roundHalfUpScalar(absSum.toDouble / 224, 6)),
        s"id $id: mean_abs ${d.mean_abs} vs $absSum/224")
      assert(d.n_bytes == bytes.length && d.format == "flac")
    }
  }

  test("FLAC decodes a rice escape partition and partition order > 0") {
    // hand-assembled single-frame stream beyond what the fixture
    // emits: blocksize 32, FIXED(1), partition order 1 (two
    // partitions of 16), first partition rice p=1, second partition
    // ESCAPED to raw 6-bit residuals — exercises the general
    // residual walker
    val w = new java.io.ByteArrayOutputStream()
    w.write("fLaC".getBytes("US-ASCII"))
    val si = new Array[Byte](38)
    si(0) = 0x80.toByte; si(3) = 34
    si(5) = 32; si(7) = 32
    si(14) = (8000 >> 12).toByte; si(15) = ((8000 >> 4) & 0xff).toByte
    si(16) = ((8000 & 0xf) << 4).toByte; si(17) = 0xf0.toByte
    si(21) = 32
    w.write(si)
    // samples: x(i) = 100 + 2i → order-1 residuals all 2
    val bits = new scala.collection.mutable.ArrayBuffer[Int]
    def putBits(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1L).toInt)
    val head = Array(0xff, 0xf8, 0x64, 0x08, 0x00, 31)
    head.foreach(b => putBits(b, 8))
    putBits(MediaCodec.flacCrc8(head.map(_.toByte), 0, 6), 8)
    putBits(0, 1); putBits(9, 6); putBits(0, 1) // FIXED(1)
    putBits(100, 16)                            // warm-up
    putBits(0, 2); putBits(1, 4)                // rice, partition order 1
    putBits(1, 4)                               // p=1 for partition 0
    (0 until 15).foreach { _ => // zigzag(2)=4, q=2, r=0: 001 then 1 bit
      putBits(0, 2); putBits(1, 1); putBits(0, 1)
    }
    putBits(15, 4)                              // escape in partition 1
    putBits(6, 5)                               // raw 6-bit residuals
    (0 until 16).foreach(_ => putBits(2 & 0x3f, 6)) // two's-complement 2
    while (bits.size % 8 != 0) bits += 0
    val frame = bits.grouped(8)
      .map(g => g.foldLeft(0)((a, b) => (a << 1) | b).toByte).toArray
    val crc = MediaCodec.flacCrc16(frame, 0, frame.length)
    w.write(frame); w.write(crc >> 8); w.write(crc & 0xff)
    val d = MediaCodec.decodeFlac(7L, w.toByteArray)
    // mean |x| over 100, 102, …, 162 = 131
    assert(d.n_samples.contains(32L) && d.mean_abs.contains(131.0), d)
  }

  test("hostile FLACs fail named: magic, LPC, wasted bits, stereo, CRCs, truncation, sample-count") {
    val good = Fixtures.flacBytes(9L)
    def expectNamed(bytes: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        MediaCodec.decodeFlac(99L, bytes)
      }
      assert(e.getMessage.contains(frag) && e.getMessage.contains("99"),
        s"got: ${e.getMessage}")
    }
    expectNamed("OggS but long enough to pass the length gate".getBytes,
      "not a FLAC stream")
    // first frame's subframe header → LPC type 32 (byte value 0x40)
    val lpc = good.clone
    lpc(42 + 7) = 0x40.toByte
    expectNamed(lpc, "LPC subframes unsupported")
    // wasted-bits flag on the first subframe
    val wb = good.clone
    wb(42 + 7) = 0x01.toByte
    expectNamed(wb, "wasted-bits")
    // channel code → left/side stereo (0b1000)
    val st = good.clone
    st(42 + 3) = 0x88.toByte
    expectNamed(st, "only mono FLAC frames")
    // corrupt a header byte AFTER parsing-relevant fields: frame
    // number of frame 0 → 5 breaks the expected sequence... instead
    // corrupt the stored CRC-8 itself
    val h8 = good.clone
    h8(42 + 6) = (h8(42 + 6) ^ 0x5a).toByte
    expectNamed(h8, "CRC-8 mismatch")
    // flip a bit inside frame 0's subframe payload → CRC-16 trips
    val c16 = good.clone
    c16(42 + 9) = (c16(42 + 9) ^ 0x01).toByte
    expectNamed(c16, "CRC-16 mismatch")
    // truncation mid-frame
    expectNamed(good.take(good.length - 5), "truncated")
    // drop the last frame entirely → STREAMINFO total mismatch.
    // frame 3 is 27 bytes
    expectNamed(good.take(good.length - 27), "STREAMINFO declares")
    // variable-blocksize bit
    val vb = good.clone
    vb(42 + 1) = 0xf9.toByte
    expectNamed(vb, "variable-blocksize")
  }

  test("FLAC decodes through the shared decodeMedia dispatch on the documents corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val media = Tables.load(spark, TestSpark.Sf, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id =>
        (id, "flac", Fixtures.flacBytes(id))))
      .toDF("media_id", "format", "bytes")
    val out = graft.multimodal.Multimodal.decodeMedia(media).collect()
    assert(out.length == 500)
    assert(out.forall(d => d.n_samples.contains(224L) &&
      d.duration_ms.contains(28L)))
    val one = out.find(_.media_id == out.head.media_id).get
    val wantAbs = flacSamples(one.media_id).map(math.abs).sum
    assert(one.mean_abs.contains(
      graft.functions.Parity.roundHalfUpScalar(wantAbs.toDouble / 224, 6)))
  }

  test("format sniffing: every fixture detects as itself; junk is unknown") {
    assert(MediaCodec.detectFormat(Fixtures.bmpBytes(3L)) == "bmp")
    assert(MediaCodec.detectFormat(Fixtures.wavBytes(3L)) == "wav")
    assert(MediaCodec.detectFormat(Fixtures.pngBytes(3L)) == "png")
    assert(MediaCodec.detectFormat(Fixtures.jpegBytes(3L)) == "jpg")
    assert(MediaCodec.detectFormat(Fixtures.jpegColorBytes(3L)) == "jpg")
    assert(MediaCodec.detectFormat(Fixtures.flacBytes(3L)) == "flac")
    assert(MediaCodec.detectFormat(Fixtures.y4mBytes(3L)) == "y4m")
    assert(MediaCodec.detectFormat(Array[Byte]()) == "unknown")
    assert(MediaCodec.detectFormat("R".getBytes) == "unknown")
    assert(MediaCodec.detectFormat("RIFFxxxxAVI ".getBytes) == "unknown")
  }

  test("audio features: hand-computed windows over a 3-sample WAV and a short last window") {
    val spark = TestSpark.spark
    import spark.implicits._
    // hand WAV: samples +1000, -2000, +32767 (from the golden test)
    val wav = Array[Int](
      'R', 'I', 'F', 'F', 42, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 1, 0,
      0x40, 0x1f, 0, 0, 0x80, 0x3e, 0, 0, 2, 0, 16, 0,
      'd', 'a', 't', 'a', 6, 0, 0, 0,
      0xe8, 0x03, 0x30, 0xf8, 0xff, 0x7f).map(_.toByte)
    val out = graft.multimodal.Multimodal.audioFeatures(
      Seq((5L, "wav", wav)).toDF("media_id", "format", "bytes"),
      window = 2).collect().sortBy(_.window_idx)
    assert(out.length == 2)
    // window 0: (+1000, -2000): energy 1e6 + 4e6, one sign change
    assert(out(0).n == 2 && out(0).sum_sq == 5000000L &&
      out(0).zero_crossings == 1 && out(0).peak == 2000L)
    // window 1: short (+32767): no in-window neighbor, zc 0
    assert(out(1).n == 1 && out(1).sum_sq == 32767L * 32767L &&
      out(1).zero_crossings == 0 && out(1).peak == 32767L)
    assert(out(0).mean_sq == 2500000.0)
    // a non-audio format fails named
    val e = intercept[org.apache.spark.SparkException] {
      graft.multimodal.Multimodal.audioFeatures(
        Seq((6L, "png", Fixtures.pngBytes(6L))).toDF(
          "media_id", "format", "bytes"), 32).collect()
    }
    assert(e.getMessage.contains("not an audio format") ||
      Option(e.getCause).exists(_.getMessage.contains("not an audio format")))
  }

  test("audio resample: floor-division block means, negative block handled") {
    val spark = TestSpark.spark
    import spark.implicits._
    // samples −3, −4, 5, 6, 7; factor 2 → block means
    // floorDiv(−7,2) = −4 (NOT the truncated −3), floorDiv(11,2) = 5,
    // last short block 7 → abs mean = (4+5+7)/3
    val wav = Array[Int](
      'R', 'I', 'F', 'F', 46, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 1, 0,
      0x40, 0x1f, 0, 0, 0x80, 0x3e, 0, 0, 2, 0, 16, 0,
      'd', 'a', 't', 'a', 10, 0, 0, 0,
      0xfd, 0xff, 0xfc, 0xff, 0x05, 0x00, 0x06, 0x00, 0x07, 0x00)
      .map(_.toByte)
    val out = graft.multimodal.Multimodal.resampleAudio(
      Seq((4L, "wav", wav)).toDF("media_id", "format", "bytes"),
      factor = 2).collect()
    assert(out.length == 1)
    assert(out.head.n_samples.contains(3L))
    assert(out.head.mean_abs.contains(5.333333), out.head)
  }

  // ------------------------------------------------------------------
  // JPEG: the hand-rolled baseline stack (Huffman + dequant + zigzag +
  // IDCT + restart markers)
  // ------------------------------------------------------------------

  /** base pixel value of fixture block b (blocks 0..n−2). */
  private def jpegBase(id: Long, b: Int): Int =
    (160 + (id * 7 + 29 * b) % 32).toInt

  test("JPEG fixture round-trip matches the closed-form features and full pixels") {
    for (id <- Seq(0L, 1L, 2L, 17L, 100L, 12345L)) {
      val bytes = Fixtures.jpegBytes(id)
      val n = 2 * (2 + id % 3).toInt
      val w = 4 * n
      val d = MediaCodec.decodeJpeg(id, bytes)
      assert(d.n_bytes == 148 + 3 * n)
      assert(d.width.contains(w.toLong) && d.height.contains(16L))
      val sum = (0 until n - 1).map(b => 64L * jpegBase(id, b)).sum +
        32L * 255 + 32L * 216
      assert(d.mean_luma.contains(
        math.floor(sum / (64.0 * n) * 1e6 + 0.5) / 1e6), s"id=$id")

      // full-pixel check: uniform DC blocks; the AC block's rows
      // alternate clamp(240+24)=255 / 216 in the u=4 basis sign
      // pattern (+,−,−,+,+,−,−,+ down the rows)
      val (pw, ph, px) = MediaCodec.pixelsJpeg(id, bytes)
      assert((pw, ph) == (w, 16))
      val rowSign = Array(1, -1, -1, 1, 1, -1, -1, 1)
      for (y <- 0 until 16; x <- 0 until w) {
        val blk = (y / 8) * (w / 8) + (x / 8)
        val want =
          if (blk < n - 1) jpegBase(id, blk)
          else if (rowSign(y % 8) > 0) 255
          else 216
        val p = (y * w + x) * 3
        assert((px(p) & 0xff) == want && px(p) == px(p + 1) &&
          px(p) == px(p + 2), s"id=$id px($x,$y) blk=$blk")
      }
    }
  }

  /** Spec-local JPEG encoder, independent of [[Fixtures.jpegBytes]]:
    * richer Huffman tables (several DC categories, AC symbols with
    * varied run/size, ZRL) so the decoder's generic table build,
    * zigzag placement, negative-coefficient EXTEND, and zero-run
    * expansion are exercised beyond the fixture's two-symbol tables.
    * One 8×8 block, no restarts.
    */
  private def mkJpeg(quant: Array[Int], dcCat: Int, dcBits: Int,
      acSyms: Seq[(Int, Int)]): Array[Byte] = {
    // DC table: cats 2..5 at lengths 2,2,3,3; AC: EOB len 1,
    // ZRL len 3, (0,3) len 3, (2,2) len 4, (9,5) len 4
    val dcCounts = Array(0, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val dcSyms = Array(2, 3, 4, 5)
    val acCounts = Array(1, 0, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val acSymTable = Array(0x00, 0xf0, 0x03, 0x22, 0x95)
    // canonical codes per the same rule the decoder must implement
    def codes(counts: Array[Int]): Array[(Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var code = 0
      for (len <- 1 to 16) {
        for (_ <- 0 until counts(len - 1)) { out += ((code, len)); code += 1 }
        code <<= 1
      }
      out.toArray
    }
    val dcCodes = dcSyms.zip(codes(dcCounts)).toMap
    val acCodes = acSymTable.zip(codes(acCounts)).toMap
    val bos = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => bos.write(v & 0xff))
    def marker(m: Int, body: Array[Int]): Unit = {
      b(0xff, m, (body.length + 2) >> 8, (body.length + 2) & 0xff)
      body.foreach(v => bos.write(v & 0xff))
    }
    b(0xff, 0xd8)
    marker(0xdb, Array(0x00) ++ quant)
    marker(0xc0, Array(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    marker(0xc4, Array(0x00) ++ dcCounts ++ dcSyms)
    marker(0xc4, Array(0x10) ++ acCounts ++ acSymTable)
    marker(0xda, Array(1, 1, 0x00, 0, 63, 0))
    // bit-pack the entropy segment (with byte stuffing)
    var acc = 0L; var nb = 0
    val ent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, len: Int): Unit = {
      acc = (acc << len) | (v & ((1L << len) - 1)); nb += len
      while (nb >= 8) {
        val byte = ((acc >> (nb - 8)) & 0xff).toInt
        ent += byte
        if (byte == 0xff) ent += 0x00
        nb -= 8
      }
    }
    val (dcC, dcL) = dcCodes(dcCat)
    put(dcC, dcL); put(dcBits, dcCat)
    acSyms.foreach { case (sym, bits) =>
      val (c, l) = acCodes(sym); put(c, l)
      put(bits, sym & 0x0f)
    }
    val (eobC, eobL) = acCodes(0x00); put(eobC, eobL)
    if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb) // pad with 1s
    ent.foreach(bos.write)
    b(0xff, 0xd9)
    bos.toByteArray
  }

  test("JPEG entropy decode vs an independent IDCT: ZRL, negative coefficients, varied quant") {
    // quant: position-dependent so a zigzag/dequant mix-up misplaces
    // energy; coefficients: DC −5 (cat 3, bits = complement form),
    // AC (0,3) value −7 at zigzag 1, (2,2) value 2 at zigzag 4,
    // ZRL + (9,5) value 24 at zigzag 30
    val quant = Array.tabulate(64)(k => 1 + (k % 7))
    // cat 3 value −5 → bits = −5 + 2³ − 1 = 2 (binary 010)
    val bytes = mkJpeg(quant, dcCat = 3, dcBits = 2,
      acSyms = Seq((0x03, 0), (0x22, 2), (0xf0, 0), (0x95, 24)))
    // (0,3): bits value 0 → EXTEND(0,3) = −7 at zigzag 1
    // (2,2): run 2 → zigzag 4, EXTEND(2,2) = 2
    // ZRL: 16 zeros → next at zigzag 5+16=21... then (9,5): run 9 →
    // zigzag 21+9 = 30, value 24
    val coefZig = new Array[Int](64)
    coefZig(0) = -5 * quant(0)
    coefZig(1) = -7 * quant(1)
    coefZig(4) = 2 * quant(4)
    coefZig(30) = 24 * quant(30)
    val coef = new Array[Int](64)
    for (k <- 0 until 64) coef(MediaCodec.ZigZag(k)) = coefZig(k)
    // independent naive IDCT straight from T.81 A.3.3
    def idct(y: Int, x: Int): Int = {
      var f = 0.0
      for (u <- 0 until 8; v <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
        f += cu * cv * coef(u * 8 + v) *
          math.cos((2 * y + 1) * u * math.Pi / 16.0) *
          math.cos((2 * x + 1) * v * math.Pi / 16.0)
      }
      val s = math.round(0.25 * f + 128.0).toInt
      math.max(0, math.min(255, s))
    }
    val (w, h, px) = MediaCodec.pixelsJpeg(42L, bytes)
    assert((w, h) == (8, 8))
    for (y <- 0 until 8; x <- 0 until 8)
      assert((px((y * 8 + x) * 3) & 0xff) == idct(y, x), s"px($x,$y)")
  }

  test("hostile JPEGs fail named: SOI, progressive, DQT precision, missing tables, truncation, restart, components") {
    val good = Fixtures.jpegBytes(5L)
    def expectNamed(bytes: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        MediaCodec.pixelsJpeg(99L, bytes)
      }
      assert(e.getMessage.contains(frag) && e.getMessage.contains("99"),
        s"got: ${e.getMessage}")
    }
    expectNamed("nope".getBytes, "not a JPEG")
    // SOF0 → SOF2 (marker byte is inside the segment stream)
    val prog = good.clone
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    expectNamed(prog, "progressive")
    // DQT precision nibble → 16-bit
    val dqt = good.clone
    val dqtAt = (0 until dqt.length - 1).find(i =>
      (dqt(i) & 0xff) == 0xff && (dqt(i + 1) & 0xff) == 0xdb).get
    dqt(dqtAt + 4) = 0x10.toByte
    expectNamed(dqt, "8-bit")
    // truncated mid-entropy: cut EOI + one byte of the last (3-byte)
    // block so the bit reader runs dry inside the AC decode
    expectNamed(good.take(good.length - 3), "truncated")
    // first restart marker corrupted → wrong RST number
    val rst = good.clone
    val rstAt = (0 until rst.length - 1).find(i =>
      (rst(i) & 0xff) == 0xff && (rst(i + 1) & 0xff) == 0xd0).get
    rst(rstAt + 1) = 0xd5.toByte
    expectNamed(rst, "restart")
    // claims three components but the SOF segment only carries one
    val tri = mkJpeg(Array.fill(64)(8), 3, 2, Seq.empty)
    val triSof = (0 until tri.length - 1).find(i =>
      (tri(i) & 0xff) == 0xff && (tri(i + 1) & 0xff) == 0xc0).get
    tri(triSof + 9) = 3.toByte // Nf
    expectNamed(tri, "too short for 3 components")
    // SOS referencing a Huffman table that was never defined: strip
    // the AC DHT segment entirely
    val noDht = {
      val at = {
        // second DHT (AC) segment
        val idxs = (0 until good.length - 1).filter(i =>
          (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc4)
        idxs(1)
      }
      val len = ((good(at + 2) & 0xff) << 8) | (good(at + 3) & 0xff)
      good.take(at) ++ good.drop(at + 2 + len)
    }
    expectNamed(noDht, "undefined")
    // DRI whose declared length can't hold its 2-byte body: must fail
    // named BEFORE indexing past the segment
    val shortDri = good.clone
    val driAt = (0 until shortDri.length - 1).find(i =>
      (shortDri(i) & 0xff) == 0xff && (shortDri(i + 1) & 0xff) == 0xdd).get
    shortDri(driAt + 2) = 0; shortDri(driAt + 3) = 2
    expectNamed(shortDri, "DRI segment truncated")
    // SOS whose declared length can't hold its component entries
    val shortSos = good.clone
    val sosAt2 = (0 until shortSos.length - 1).find(i =>
      (shortSos(i) & 0xff) == 0xff && (shortSos(i + 1) & 0xff) == 0xda).get
    shortSos(sosAt2 + 2) = 0; shortSos(sosAt2 + 3) = 7 // real len is 8
    expectNamed(shortSos, "SOS segment truncated")
    // scan components out of frame order (T.81 B.2.3 non-conforming):
    // swapping Cs2/Cs3 of the color fixture must fail named, not
    // silently decode with swapped tables/planes
    val swapped = Fixtures.jpegColorBytes(0L).clone
    val csAt = (0 until swapped.length - 1).find(i =>
      (swapped(i) & 0xff) == 0xff && (swapped(i + 1) & 0xff) == 0xda).get
    val t2 = swapped(csAt + 7); swapped(csAt + 7) = swapped(csAt + 9)
    swapped(csAt + 9) = t2
    expectNamed(swapped, "out-of-frame-order")
  }

  /** The decoder's fixed-point YCbCr→RGB, recomputed independently
    * (plain integer math, no shared code).
    */
  private def bt601(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def cl(v: Int) = math.max(0, math.min(255, v))
    val cb1 = cb - 128; val cr1 = cr - 128
    (cl(y + ((91881 * cr1 + 32768) >> 16)),
      cl(y - ((22554 * cb1 + 46802 * cr1 + 32768) >> 16)),
      cl(y + ((116130 * cb1 + 32768) >> 16)))
  }

  test("color JPEG fixture round-trip: 4:2:0 interleave, chroma replication, BT.601 conversion, full pixels") {
    for (id <- Seq(0L, 1L, 2L, 17L, 100L, 12345L)) {
      val bytes = Fixtures.jpegColorBytes(id)
      val m = 2 * (1 + id % 2).toInt
      val w = 8 * m
      val d = MediaCodec.decodeJpeg(id, bytes)
      assert(d.n_bytes == 266 + 8 * m)
      assert(d.width.contains(w.toLong) && d.height.contains(32L))

      val (pw, ph, px) = MediaCodec.pixelsJpeg(id, bytes)
      assert((pw, ph) == (w, 32))
      val mcusX = w / 16
      val rowSign = Array(1, -1, -1, 1, 1, -1, -1, 1)
      var lsum = 0L
      for (y <- 0 until 32; x <- 0 until w) {
        val mc = (y / 16) * mcusX + (x / 16)
        val j = ((y % 16) / 8) * 2 + (x % 16) / 8
        val i = 4 * mc + j
        val ramp = ((id * 7 + 29 * mc) % 8).toInt
        val yv =
          if (i < 4 * m - 1) 160 + ramp + 8 * j // differential DC chain
          else if (rowSign(y % 8) > 0) 255 // 208 + ramp + 48, clamped
          else 160 + ramp // 208 + ramp − 48
        val cb = 136 + ((id + mc) % 8).toInt
        val cr = 120 - ((id + 2 * mc) % 8).toInt
        val (er, eg, eb) = bt601(yv, cb, cr)
        val p = (y * w + x) * 3
        assert((px(p) & 0xff) == er && (px(p + 1) & 0xff) == eg &&
          (px(p + 2) & 0xff) == eb, s"id=$id px($x,$y) mcu=$mc blk=$j")
        lsum += 299L * er + 587L * eg + 114L * eb
      }
      assert(d.mean_luma.contains(
        math.floor(lsum / (1000.0 * w * 32) * 1e6 + 0.5) / 1e6), s"id=$id")
    }
  }

  /** Spec-local 4:4:4 color encoder (one 8×8 MCU: Y, Cb, Cr blocks,
    * all 1x1 sampling, shared compact tables) — pins the NON-subsampled
    * interleave path the 4:2:0 fixture cannot reach.
    */
  private def mkJpeg444(yq: Int, cbq: Int, crq: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => bos.write(v & 0xff))
    def marker(m: Int, body: Array[Int]): Unit = {
      b(0xff, m, (body.length + 2) >> 8, (body.length + 2) & 0xff)
      body.foreach(v => bos.write(v & 0xff))
    }
    b(0xff, 0xd8)
    marker(0xdb, Array(0x00) ++ Array.fill(64)(8))
    marker(0xc0, Array(8, 0, 8, 0, 8, 3,
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
    // DC0: cat 4 → "0", cat 6 → "10"; AC0: EOB → "0"
    marker(0xc4, Array(0x00, 1, 1) ++ Array.fill(14)(0) ++ Array(4, 6))
    marker(0xc4, Array(0x10, 1) ++ Array.fill(15)(0) ++ Array(0x00))
    marker(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    // Y: cat6 (yq ∈ [32,63]); Cb/Cr: cat4 (|q| ∈ [8,15])
    var acc = 0L; var nb = 0
    val ent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, len: Int): Unit = {
      acc = (acc << len) | (v & ((1L << len) - 1)); nb += len
      while (nb >= 8) {
        val byte = ((acc >> (nb - 8)) & 0xff).toInt
        ent += byte
        if (byte == 0xff) ent += 0x00
        nb -= 8
      }
    }
    def cat4(v: Int): Int = if (v < 0) v + 15 else v
    put(2, 2); put(yq, 6); put(0, 1) // Y: "10" + 6 bits + EOB
    put(0, 1); put(cat4(cbq), 4); put(0, 1) // Cb
    put(0, 1); put(cat4(crq), 4); put(0, 1) // Cr
    if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
    ent.foreach(bos.write)
    b(0xff, 0xd9)
    bos.toByteArray
  }

  test("4:4:4 color JPEG: per-pixel chroma (no subsampling), negative Cr through EXTEND") {
    // Y = 128+40, Cb = 128+12, Cr = 128−9: uniform image
    val (w, h, px) = MediaCodec.pixelsJpeg(7L, mkJpeg444(40, 12, -9))
    assert((w, h) == (8, 8))
    val (er, eg, eb) = bt601(168, 140, 119)
    for (i <- 0 until 64) {
      assert((px(i * 3) & 0xff) == er && (px(i * 3 + 1) & 0xff) == eg &&
        (px(i * 3 + 2) & 0xff) == eb, s"px $i")
    }
    // independent spot value: cr1=−9 → R = 168 + floor((91881·−9
    // + 32768)/65536) = 168 + floor(−12.12) = 155
    assert(er == 155)
  }

  /** Spec-local 4:2:2 encoder (Y 2×1, chroma 1×1 — one 16×8 MCU of
    * two Y blocks + Cb + Cr): exercises the ANISOTROPIC chroma
    * mapping (x halves, y doesn't) and the in-MCU Y DC chain at h=2.
    */
  private def mkJpeg422(yq0: Int, cbq: Int, crq: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => bos.write(v & 0xff))
    def marker(m: Int, body: Array[Int]): Unit = {
      b(0xff, m, (body.length + 2) >> 8, (body.length + 2) & 0xff)
      body.foreach(v => bos.write(v & 0xff))
    }
    b(0xff, 0xd8)
    marker(0xdb, Array(0x00) ++ Array.fill(64)(8))
    marker(0xc0, Array(8, 0, 8, 0, 16, 3,
      1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0)) // Y 2x1, chroma 1x1
    // DC0: cat 4 → "0", cat 6 → "10"; AC0: EOB → "0"
    marker(0xc4, Array(0x00, 1, 1) ++ Array.fill(14)(0) ++ Array(4, 6))
    marker(0xc4, Array(0x10, 1) ++ Array.fill(15)(0) ++ Array(0x00))
    marker(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    var acc = 0L; var nb = 0
    val ent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def put(v: Int, len: Int): Unit = {
      acc = (acc << len) | (v & ((1L << len) - 1)); nb += len
      while (nb >= 8) {
        val byte = ((acc >> (nb - 8)) & 0xff).toInt
        ent += byte
        if (byte == 0xff) ent += 0x00
        nb -= 8
      }
    }
    def cat4(v: Int): Int = if (v < 0) v + 15 else v
    put(2, 2); put(yq0, 6); put(0, 1) // Y block 0: absolute, cat 6
    put(0, 1); put(8, 4); put(0, 1) // Y block 1: diff +8, cat 4
    put(0, 1); put(cat4(cbq), 4); put(0, 1) // Cb
    put(0, 1); put(cat4(crq), 4); put(0, 1) // Cr
    if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
    ent.foreach(bos.write)
    b(0xff, 0xd9)
    bos.toByteArray
  }

  test("4:2:2 color JPEG: anisotropic chroma replication, in-MCU Y chain at h=2") {
    // Y left block 162, right 170 (diff +8); Cb 139, Cr 117
    val (w, h, px) = MediaCodec.pixelsJpeg(11L, mkJpeg422(34, 11, -11))
    assert((w, h) == (16, 8))
    for (y <- 0 until 8; x <- 0 until 16) {
      val yv = if (x < 8) 162 else 170
      val (er, eg, eb) = bt601(yv, 139, 117)
      val p = (y * 16 + x) * 3
      assert((px(p) & 0xff) == er && (px(p + 1) & 0xff) == eg &&
        (px(p + 2) & 0xff) == eb, s"px($x,$y)")
    }
  }

  test("no-DRI grayscale JPEG: the DC predictor chains across MCUs without restarts") {
    // 16×8 grayscale, two 8×8 blocks, NO DRI segment: block 0 carries
    // absolute DC 40 (cat 6 "10"+6bits under the 4:2:2 tables), block
    // 1 the diff +8 (cat 4 "0"+4bits) — a decoder that resets the
    // predictor per MCU (the DRI=1 fixtures' behavior) would read 136
    // instead of 176
    val bos = new java.io.ByteArrayOutputStream()
    def b(vs: Int*): Unit = vs.foreach(v => bos.write(v & 0xff))
    def marker(m: Int, body: Array[Int]): Unit = {
      b(0xff, m, (body.length + 2) >> 8, (body.length + 2) & 0xff)
      body.foreach(v => bos.write(v & 0xff))
    }
    b(0xff, 0xd8)
    marker(0xdb, Array(0x00) ++ Array.fill(64)(8))
    marker(0xc0, Array(8, 0, 8, 0, 16, 1, 1, 0x11, 0))
    marker(0xc4, Array(0x00, 1, 1) ++ Array.fill(14)(0) ++ Array(4, 6))
    marker(0xc4, Array(0x10, 1) ++ Array.fill(15)(0) ++ Array(0x00))
    marker(0xda, Array(1, 1, 0x00, 0, 63, 0))
    // block 0: "10"+101000+EOB"0" (9 bits); block 1: "0"+1000+EOB"0"
    // (6 bits) → 15 bits: 10101000 | 0 0 1000 0 + pad 1 = A8 21
    b(0xa8, 0x21)
    b(0xff, 0xd9)
    val (w, h, px) = MediaCodec.pixelsJpeg(13L, bos.toByteArray)
    assert((w, h) == (16, 8))
    for (y <- 0 until 8; x <- 0 until 16) {
      val want = if (x < 8) 168 else 176 // 128+40, then 128+48
      assert((px((y * 16 + x) * 3) & 0xff) == want, s"px($x,$y)")
    }
  }

  test("hostile color JPEGs fail named: scan coverage, sampling grid, missing chroma tables") {
    def expectNamed(bytes: Array[Byte], frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        MediaCodec.pixelsJpeg(99L, bytes)
      }
      assert(e.getMessage.contains(frag) && e.getMessage.contains("99"),
        s"got: ${e.getMessage}")
    }
    val good = Fixtures.jpegColorBytes(4L)
    def sofAt(a: Array[Byte]): Int = (0 until a.length - 1).find(i =>
      (a(i) & 0xff) == 0xff && (a(i + 1) & 0xff) == 0xc0).get
    def sosAt(a: Array[Byte]): Int = (0 until a.length - 1).find(i =>
      (a(i) & 0xff) == 0xff && (a(i + 1) & 0xff) == 0xda).get
    // scan covers 1 of 3 components
    val short = good.clone
    short(sosAt(short) + 4) = 1.toByte // Ns — length stays, parse sees 1
    expectNamed(short, "must cover all 3")
    // Y sampling 3x1
    val samp = good.clone
    samp(sofAt(samp) + 11) = 0x31.toByte
    expectNamed(samp, "sampling grids")
    // chroma quant table id points at an undefined slot
    val q = good.clone
    q(sofAt(q) + 15) = 2.toByte // Cb Tq -> 2
    expectNamed(q, "quant table 2 undefined")
  }

  test("JPEG resizes through the shared box filter: factor 8 collapses each block to its mean") {
    val id = 3L // id%3=0 → 16x16, n=4 blocks
    val bytes = Fixtures.jpegBytes(id)
    val (w, h, px) = MediaCodec.pixelsJpeg(id, bytes)
    assert((w, h) == (16, 16))
    val (ow, oh, out) = MediaCodec.resizePixels(w, h, px, 8)
    assert((ow, oh) == (2, 2))
    // blocks 0..2 are uniform → mean = base; the AC block's 32×255 +
    // 32×216 floors to 235
    val want = Seq(jpegBase(id, 0), jpegBase(id, 1), jpegBase(id, 2), 235)
    for (i <- 0 until 4)
      assert((out(i * 3) & 0xff) == want(i), s"block $i")
  }

  test("perceptual hashes: recompression is hash-identical, resize is aHash-exact/dHash-near; a one-block flip moves exactly one aHash bit") {
    import graft.multimodal.Multimodal
    def hashesOf(fmt: String, bytes: Array[Byte]): (Long, Long) = {
      val (w, h, px) = fmt match {
        case "bmp" => MediaCodec.pixelsBmp(0L, bytes)
        case "png" => MediaCodec.pixelsPng(0L, bytes)
      }
      Multimodal.perceptualHashes(w, h, px)
    }
    val word = Fixtures.patternWord(7L)
    val bmp16 = hashesOf("bmp", Fixtures.bmpBytesOf(16, 16,
      Fixtures.blockPx(word, 2)))
    val png16 = hashesOf("png", Fixtures.pngBytesOf(16, 16,
      Fixtures.blockPx(word, 2)))
    val png24 = hashesOf("png", Fixtures.pngBytesOf(24, 24,
      Fixtures.blockPx(word, 3)))
    val png40 = hashesOf("png", Fixtures.pngBytesOf(40, 40,
      Fixtures.blockPx(word, 5)))
    // the aHash of a block image IS the pattern word (bit i = block i
    // brighter than the mean) — the property the oracle leans on
    assert(bmp16._1 == word, "aHash must equal the planted pattern")
    // pure recompression (same raster, different container): both
    // hashes identical
    assert(png16 == bmp16, "PNG at 16x16 must hash identically (recompress)")
    // resize: aHash is EXACT (8×8 grid aligns with the 8×8 blocks at
    // any scale); dHash's 9-column grid cannot align with 8 blocks,
    // so it drifts a few bits across resolutions — like real dHash
    // across re-encodes, it is a NEAR match, never asserted equal
    assert(png24._1 == word && png40._1 == word,
      "aHash must survive 24x24 and 40x40 resizes exactly")
    val unrelated = hashesOf("bmp", Fixtures.bmpBytesOf(16, 16,
      Fixtures.blockPx(Fixtures.patternWord(9999L), 2)))
    def hm(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hm(png24._2, bmp16._2) < hm(unrelated._2, bmp16._2),
      "resized dHash must stay closer than an unrelated image's")
    // one flipped block = exactly one aHash bit
    val k = (7L % 60 + 2).toInt
    val pert = hashesOf("bmp", Fixtures.bmpBytesOf(16, 16,
      Fixtures.blockPx(word ^ (1L << k), 2)))
    assert(pert._1 == (word ^ (1L << k)))
    assert(java.lang.Long.bitCount(pert._1 ^ bmp16._1) == 1)
    // unrelated pattern is far away
    val other = hashesOf("bmp", Fixtures.bmpBytesOf(16, 16,
      Fixtures.blockPx(Fixtures.patternWord(9999L), 2)))
    assert(java.lang.Long.bitCount(other._1 ^ bmp16._1) > 3)
  }

  test("audio fingerprint: a ladder's fingerprint IS its word; invariant under gain, WAV<->FLAC re-encode, and duration; a flipped comparison moves exactly one bit") {
    import graft.multimodal.Multimodal
    def fpOf(fmt: String, bytes: Array[Byte]): Long = {
      val (_, xs) = fmt match {
        case "wav" => MediaCodec.samplesWav(0L, bytes)
        case "flac" => MediaCodec.samplesFlac(0L, bytes)
      }
      Multimodal.audioFingerprint(0L, xs)
    }
    val word = Fixtures.patternWord(7L)
    val amps = Fixtures.ladderAmps(word, 1)
    val wav4 = fpOf("wav",
      Fixtures.wavBytesOf(8000, amps.flatMap(a => Array.fill(4)(a))))
    // the fingerprint of a planted ladder IS the word — the property
    // the oracle leans on
    assert(wav4 == word, "fingerprint must equal the planted word")
    // constant gain: ×3 scales every block mean equally
    val wavGain = fpOf("wav", Fixtures.wavBytesOf(8000,
      Fixtures.ladderAmps(word, 3).flatMap(a => Array.fill(4)(a))))
    assert(wavGain == word, "fingerprint must survive constant gain")
    // lossless re-encode at a different gain AND duration (FLAC,
    // 8 samples per block): same relative energy profile
    val flac8 = fpOf("flac",
      Fixtures.flacConstBytes(Fixtures.ladderAmps(word, 3), 8))
    assert(flac8 == word,
      "fingerprint must survive WAV->FLAC re-encode + gain + duration")
    // non-multiple-of-65 length: the tail truncation keeps blocks on
    // the same audio (append 3 trailing samples, k stays 4)
    val wavTail = fpOf("wav", Fixtures.wavBytesOf(8000,
      amps.flatMap(a => Array.fill(4)(a)) ++ Array(1, 1, 1)))
    assert(wavTail == word, "fingerprint must survive a partial tail")
    // one flipped comparison = exactly one bit
    val k = (7L % 60 + 2).toInt
    val pert = fpOf("wav", Fixtures.wavBytesOf(8000,
      Fixtures.ladderAmps(word ^ (1L << k), 1)
        .flatMap(a => Array.fill(4)(a))))
    assert(pert == (word ^ (1L << k)))
    assert(java.lang.Long.bitCount(pert ^ wav4) == 1)
    // unrelated word is far away
    val other = fpOf("flac", Fixtures.flacConstBytes(
      Fixtures.ladderAmps(Fixtures.patternWord(9999L), 2), 4))
    assert(java.lang.Long.bitCount(other ^ wav4) > 3)
    // too-short audio fails named, never a silent zero fingerprint
    val e = intercept[IllegalArgumentException] {
      fpOf("wav", Fixtures.wavBytesOf(8000, Array.fill(64)(5)))
    }
    assert(e.getMessage.contains("64 samples < 65"))
  }

  test("audioFingerprints is map-side over real decoders and feeds the banded probe") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val media = (0L until 24L).map { d =>
      val base = d / 4
      val word = Fixtures.patternWord(base)
      (d % 4) match {
        case 0 => (d, "wav", Fixtures.wavBytesOf(8000,
          Fixtures.ladderAmps(word, 1).flatMap(a => Array.fill(4)(a))))
        case 1 => (d, "flac",
          Fixtures.flacConstBytes(Fixtures.ladderAmps(word, 3), 8))
        case 2 => (d, "wav", Fixtures.wavBytesOf(8000,
          Fixtures.ladderAmps(word ^ (1L << (base % 60 + 2).toInt), 1)
            .flatMap(a => Array.fill(4)(a))))
        case _ => (d, "flac", Fixtures.flacConstBytes(
          Fixtures.ladderAmps(Fixtures.patternWord(base + 1000003L), 2), 4))
      }
    }.toDF("media_id", "format", "bytes")
    val fps = graft.multimodal.Multimodal.audioFingerprints(media).toDF()
      .select(col("mediaId").as("doc_id"), col("fp"))
    val got = graft.dedup.Dedup.hash64NearDupPairs(fps, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // per base: (v0,v1) identical, (v0,v2) and (v1,v2) at hamming 1
    val expect = (0L until 6L).flatMap { base =>
      val d = base * 4
      Seq((d, d + 1, 0), (d, d + 2, 1), (d + 1, d + 2, 1))
    }.toSet
    assert(got == expect, s"got $got")
  }

  test("video fingerprint: a constant-luma ladder's fingerprint IS its word; invariant under resize, re-timing, and brightness gain; flips and shortness behave like audio") {
    import graft.multimodal.Multimodal
    val word = Fixtures.patternWord(11L)
    def fpOf(w: Int, h: Int, num: Int, unit: Int, rep: Int,
        wd: Long = word): Long =
      Multimodal.videoFingerprint(0L, Fixtures.y4mBytesOf(w, h, num,
        Fixtures.ladderAmps(wd, unit).flatMap(a => Array.fill(rep)(a))))._2
    val base = fpOf(4, 4, 24, 1, 2)
    assert(base == word, "fingerprint must equal the planted word")
    // spatial resize: the mean-luma profile is resolution-free
    assert(fpOf(8, 6, 24, 1, 2) == word, "must survive resize")
    // re-timing + longer clip: relative-position segments
    assert(fpOf(4, 4, 30, 1, 3) == word, "must survive re-timing")
    // constant brightness gain
    assert(fpOf(4, 4, 24, 2, 2) == word, "must survive brightness gain")
    // a partial tail (n not a multiple of 65) truncates, k unchanged
    val tail = Multimodal.videoFingerprint(0L, Fixtures.y4mBytesOf(4, 4, 24,
      Fixtures.ladderAmps(word, 1).flatMap(a => Array.fill(2)(a)) ++
        Array(1)))._2
    assert(tail == word, "must survive a partial tail")
    // one flipped comparison = exactly one bit
    val k = (11L % 60 + 2).toInt
    assert(fpOf(4, 4, 24, 1, 2, word ^ (1L << k)) == (word ^ (1L << k)))
    // unrelated word is far away
    assert(java.lang.Long.bitCount(
      fpOf(4, 2, 24, 3, 2, Fixtures.patternWord(9999L)) ^ base) > 3)
    // short clips fail named — fingerprint the bytes instead
    val e = intercept[IllegalArgumentException] {
      Multimodal.videoFingerprint(0L,
        Fixtures.y4mBytesOf(4, 4, 24, Array.fill(64)(7)))
    }
    assert(e.getMessage.contains("64 frames < 65"))
  }

  test("videoFingerprints feeds the banded probe end to end over real Y4M bytes") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val media = (0L until 16L).map { d =>
      val base = d / 4
      val word = Fixtures.patternWord(base)
      (d % 4) match {
        case 0 => (d, Fixtures.y4mBytesOf(4, 4, 24,
          Fixtures.ladderAmps(word, 1).flatMap(a => Array.fill(2)(a))))
        case 1 => (d, Fixtures.y4mBytesOf(8, 6, 30,
          Fixtures.ladderAmps(word, 2).flatMap(a => Array.fill(3)(a))))
        case 2 => (d, Fixtures.y4mBytesOf(4, 4, 24,
          Fixtures.ladderAmps(word ^ (1L << (base % 60 + 2).toInt), 1)
            .flatMap(a => Array.fill(2)(a))))
        case _ => (d, Fixtures.y4mBytesOf(4, 2, 24,
          Fixtures.ladderAmps(Fixtures.patternWord(base + 1000003L), 3)
            .flatMap(a => Array.fill(2)(a))))
      }
    }.toDF("media_id", "bytes")
    val fps = graft.multimodal.Multimodal.videoFingerprints(media).toDF()
      .select(col("mediaId").as("doc_id"), col("fp"))
    val got = graft.dedup.Dedup.hash64NearDupPairs(fps, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expect = (0L until 4L).flatMap { base =>
      val d = base * 4
      Seq((d, d + 1, 0), (d, d + 2, 1), (d + 1, d + 2, 1))
    }.toSet
    assert(got == expect, s"got $got")
  }

  test("canonical media selection: pairs -> CC -> keep the highest-resolution member; singletons keep themselves") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val media = (0L until 16L).map(Fixtures.imageVariant)
      .toDF("media_id", "format", "bytes")
    val hashes = graft.multimodal.Multimodal.imageHashes(media).toDF()
      .select(col("mediaId").as("doc_id"), col("aHash").as("fp"),
        (col("w") * col("h")).as("pixels"))
    val pairs = graft.dedup.Dedup.hash64NearDupPairs(
        hashes.select("doc_id", "fp"), 3)
      .select(col("ida").as("a"), col("idb").as("b"))
    val labels = graft.dedup.Clusters.connectedComponents(
      hashes.select(col("doc_id").as("id")), pairs)
    val got = graft.dedup.Clusters.keepBestPerCluster(
        hashes.join(labels.withColumnRenamed("id", "doc_id"), "doc_id"),
        "doc_id", "cluster_id", "pixels")
      .select("doc_id", "cluster_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val expect = (0L until 4L).flatMap { base =>
      val d = base * 4
      // the 24×24 re-encode (v1) wins its {v0,v1,v2} cluster; the
      // unrelated v3 is a singleton and keeps itself
      Seq((d, d, false), (d + 1, d, true), (d + 2, d, false),
        (d + 3, d + 3, true))
    }.toSet
    assert(got == expect, s"got $got")
  }

  test("image quality battery: dark/flat/clipped/resolution/aspect verdicts from decoded rasters, exact integers") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val word = Fixtures.patternWord(3L)
    val k = java.lang.Long.bitCount(word)
    val media = Seq(
      (0L, "bmp", Fixtures.bmpBytesOf(16, 16, Fixtures.blockPx(word, 2))),
      (1L, "png", Fixtures.pngBytesOf(24, 24, (_, _) => (20, 20, 20))),
      (2L, "bmp", Fixtures.bmpBytesOf(16, 16, (x, y) => {
        val i = (y / 2) * 8 + (x / 2)
        val v = if (((word >> i) & 1L) != 0L) 255 else 200
        (v, v, v)
      })),
      (3L, "png", Fixtures.pngBytesOf(48, 4, (_, _) => (100, 100, 100))))
      .toDF("media_id", "format", "bytes")
    val got = graft.multimodal.Multimodal.imageQuality(media).toDF()
      .orderBy(col("mediaId"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8)))
    // gray pixels: luma = the pixel value exactly ((299+587+114)/1000)
    assert(got(0) == (0L, 10240L + 640L * k, 0L,
      k < 8, false, true, true), s"v0: ${got(0)}")
    // constant 20 → dark AND flat (zero variance), nothing clipped
    assert(got(1) == (1L, 11520L, 0L, true, true, true, true),
      s"v1: ${got(1)}")
    // 255 blocks clip (luma ≥ 250); 200/255 mix is bright, not flat
    assert(got(2) == (2L, 51200L + 220L * k, 4L * k,
      false, false, true, true), s"v2: ${got(2)}")
    // 48×4 banner: aspect 12 > 3 AND min dim 4 < 8; constant → flat
    assert(got(3) == (3L, 19200L, 0L, false, true, false, false),
      s"v3: ${got(3)}")
    // oversized rasters fail named — resize first
    val e = intercept[org.apache.spark.SparkException] {
      graft.multimodal.Multimodal.imageQuality(
        Seq((9L, "bmp", Fixtures.bmpBytesOf(260, 260, (_, _) => (1, 1, 1))))
          .toDF("media_id", "format", "bytes")).collect()
    }
    assert(e.getMessage.contains("resize first") ||
      Option(e.getCause).exists(_.getMessage.contains("resize first")))
  }

  test("video quality battery: dark/static/resolution/aspect/length verdicts from the real Y4M walk, exact integers") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val word = Fixtures.patternWord(5L)
    val media = Seq(
      (0L, Fixtures.y4mBytesOf(8, 8, 24,
        Fixtures.ladderAmps(word, 3).map(_ + 60)
          .flatMap(a => Array.fill(2)(a)))),
      (1L, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(80)(20))),
      (2L, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(70)(128))),
      (3L, Fixtures.y4mBytesOf(48, 4, 24, Array.fill(10)(100))))
      .toDF("media_id", "bytes")
    val got = graft.multimodal.Multimodal.videoQuality(media).toDF()
      .orderBy(col("mediaId"))
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
        r.getBoolean(9), r.getBoolean(10)))
    // ladder frame mean = 63 + 3·(bits of word at positions ≥ i),
    // exactly (constant frames land on their own value)
    val msum = 2L * (0 to 64).map(i =>
      63L + 3L * java.lang.Long.bitCount(if (i >= 64) 0L else word >>> i))
      .sum
    // (is_static for v0 is word-dependent — not asserted)
    assert(got(0)._1 == 0L && got(0)._2 == 130L && got(0)._3 == msum &&
      !got(0)._4 && got(0)._6 && got(0)._7 && got(0)._8, s"v0: ${got(0)}")
    // constant 20: dark AND static, long enough
    assert(got(1) == (1L, 80L, 1600L, true, true, true, true, true),
      s"v1: ${got(1)}")
    // constant 128: static, NOT dark
    assert(got(2) == (2L, 70L, 8960L, false, true, true, true, true),
      s"v2: ${got(2)}")
    // 10-frame 48×4 banner: short + aspect + resolution trip at once
    assert(got(3) == (3L, 10L, 1000L, false, true, false, false, false),
      s"v3: ${got(3)}")
  }

  test("curation pass: quality-first ordering prevents the flat-image mega-cluster (all flats share aHash 0)") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // 6 distinct flat fills + 2 genuinely-identical patterned images
    val media = ((0L until 6L).map(d => (d, "png",
      Fixtures.pngBytesOf(16, 16, (_, _) =>
        ((10 + d).toInt, (10 + d).toInt, (10 + d).toInt)))) ++ Seq(
      (6L, "bmp", Fixtures.bmpBytesOf(16, 16,
        Fixtures.blockPx(Fixtures.patternWord(1L), 2))),
      (7L, "png", Fixtures.pngBytesOf(24, 24,
        Fixtures.blockPx(Fixtures.patternWord(1L), 3)))))
      .toDF("media_id", "format", "bytes")
    val cur = graft.multimodal.Multimodal.imageCurationPass(media).toDF()
    // every flat fill hashes to the same degenerate word...
    val flats = cur.filter(!col("qualityOk"))
      .select("mediaId", "fp").collect()
    assert(flats.map(_.getLong(0)).sorted.toSeq == (0L until 6L) &&
      flats.map(_.getLong(1)).distinct.toSeq == Seq(0L),
      "flat fills must all be dropped and all share aHash 0")
    // ...so skipping the gate welds 6 unrelated images into one
    // cluster, while the gated pipeline pairs only the true dup
    val ungatedPairs = graft.dedup.Dedup.hash64NearDupPairs(
      cur.select(col("mediaId").as("doc_id"), col("fp")), 3).count()
    assert(ungatedPairs == 15 + 1, // C(6,2) degenerate + the true pair
      s"ungated: $ungatedPairs")
    val gated = graft.dedup.Dedup.hash64NearDupPairs(
      cur.filter(col("qualityOk"))
        .select(col("mediaId").as("doc_id"), col("fp")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gated.toSeq == Seq((6L, 7L)), s"gated: ${gated.toSeq}")
  }

  test("scene changes: ladder boundaries are exactly the word's set bits; constant clips emit nothing; hard cuts land on their frame") {
    val s = TestSpark.spark
    import s.implicits._
    val word = Fixtures.patternWord(13L)
    val media = Seq(
      (0L, Fixtures.y4mBytesOf(8, 8, 24,
        Fixtures.ladderAmps(word, 3).map(_ + 60)
          .flatMap(a => Array.fill(2)(a)))),
      (1L, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(40)(128))),
      (2L, Fixtures.y4mBytesOf(8, 8, 24,
        Array.fill(30)(50) ++ Array.fill(30)(180))))
      .toDF("media_id", "bytes")
    val got = graft.multimodal.Multimodal.sceneChanges(media)
      .collect().map(c => (c.mediaId, c.frameIdx, c.prevMean, c.nextMean))
      .sortBy(x => (x._1, x._2)).toSeq
    def bc(i: Int) = java.lang.Long.bitCount(word >>> i)
    val expect0 = (0 to 62).filter(i => ((word >> i) & 1L) == 1L).map(i =>
      (0L, 2L * (i + 1), 63L + 3 * bc(i), 63L + 3 * bc(i + 1)))
    assert(got == expect0 :+ (2L, 30L, 50L, 180L),
      s"got ${got.size} rows, expected ${expect0.size + 1}")
  }

  test("audio segments: maximal active-window runs; word-driven runs match a reference run-length pass; all-silent emits nothing") {
    val s = TestSpark.spark
    import s.implicits._
    val word = Fixtures.patternWord(17L)
    val media = Seq(
      (0L, "wav", Fixtures.wavBytesOf(8000,
        Array.tabulate(64)(i => if (((word >> i) & 1L) != 0L) 100 else 2)
          .flatMap(a => Array.fill(8)(a)))),
      (1L, "wav", Fixtures.wavBytesOf(8000, Array.fill(512)(2))),
      (2L, "flac", Fixtures.flacConstBytes(Array.fill(64)(100), 8)),
      (3L, "wav", Fixtures.wavBytesOf(8000,
        Array.fill(128)(100) ++ Array.fill(128)(2) ++
          Array.fill(256)(100))))
      .toDF("media_id", "format", "bytes")
    val got = graft.multimodal.Multimodal.audioSegments(media)
      .collect().map(x => (x.mediaId, x.segIdx, x.startWindow,
        x.endWindow, x.nWindows)).sortBy(x => (x._1, x._2)).toSeq
    // reference run-length pass over the word's bits
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < 64) {
      if (((word >> i) & 1L) != 0L) {
        val s0 = i
        while (i < 64 && ((word >> i) & 1L) != 0L) i += 1
        runs += ((s0.toLong, (i - 1).toLong))
      } else i += 1
    }
    val expect0 = runs.zipWithIndex.map { case ((a, b), j) =>
      (0L, j.toLong, a, b, b - a + 1) }.toSeq
    assert(got.filter(_._1 == 0L) == expect0)
    assert(!got.exists(_._1 == 1L), "all-silent must emit nothing")
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 0L, 63L, 64L)))
    assert(got.filter(_._1 == 3L) ==
      Seq((3L, 0L, 0L, 15L, 16L), (3L, 1L, 32L, 63L, 32L)))
  }

  test("video shots: spans tile the clip exactly between cuts; keyframe mean is the first frame's; single-shot when no cuts") {
    val s = TestSpark.spark
    import s.implicits._
    val word = Fixtures.patternWord(19L)
    val media = Seq(
      (0L, Fixtures.y4mBytesOf(8, 8, 24,
        Fixtures.ladderAmps(word, 3).map(_ + 60)
          .flatMap(a => Array.fill(2)(a)))),
      (1L, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(40)(128))),
      (2L, Fixtures.y4mBytesOf(8, 8, 24,
        Array.fill(30)(50) ++ Array.fill(30)(180))))
      .toDF("media_id", "bytes")
    val got = graft.multimodal.Multimodal.videoShots(media)
      .collect().map(x => (x.mediaId, x.shotIdx, x.startFrame,
        x.endFrame, x.nFrames, x.keyMean))
      .sortBy(x => (x._1, x._2)).toSeq
    // v0: shots tile [0, 129] with boundaries at the set bits' frames
    val v0 = got.filter(_._1 == 0L)
    assert(v0.head._3 == 0L && v0.last._4 == 129L)
    assert(v0.sliding(2).forall {
      case Seq(a, b) => b._3 == a._4 + 1; case _ => true },
      "shots must tile the clip with no gap or overlap")
    assert(v0.size == 1 + java.lang.Long.bitCount(word),
      "one shot per set bit plus the opening shot")
    def bc(i: Int) = java.lang.Long.bitCount(word >>> i)
    assert(v0.forall(sh => sh._6 == 63L + 3 * bc((sh._3 / 2).toInt)),
      "keyframe mean must be the shot's first step's mean")
    // v1: no cuts → one whole-clip shot with the constant mean
    assert(got.filter(_._1 == 1L) == Seq((1L, 0L, 0L, 39L, 40L, 128L)))
    // v2: one cut at 30
    assert(got.filter(_._1 == 2L) ==
      Seq((2L, 0L, 0L, 29L, 30L, 50L), (2L, 1L, 30L, 59L, 30L, 180L)))
  }

  test("hash64NearDupPairs equals brute force on a planted corpus (pigeonhole exactness for d <= 3)") {
    val s = TestSpark.spark
    import s.implicits._
    val fps = (0L until 40L).map { d =>
      val base = d / 4
      val word = Fixtures.patternWord(base)
      val fp = (d % 4) match {
        case 2 => word ^ (1L << (base % 60 + 2).toInt)
        case 3 => Fixtures.patternWord(base + 1000003L)
        case _ => word // v0 and v1 identical → clique path
      }
      (d, fp)
    }
    val df = fps.toDF("doc_id", "fp")
    val got = graft.dedup.Dedup.hash64NearDupPairs(df, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      hm = java.lang.Long.bitCount(fa ^ fb) if hm <= 3
    } yield (a, b, hm)).toSet
    assert(got == brute)
    assert(brute.size == 30, s"expected 10 bases x 3 planted pairs: $brute")

    // the driver-side kernels at the 64-bit width (4×16-bit bands):
    // components equal a union-find over the brute-force pairs (root =
    // min member), store edges the brute-force cross pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x).fold(x)(find)
    brute.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val size = fps.groupBy(f => find(f._1)).map { case (r, m) => r -> m.size.toLong }
    val local = graft.dedup.Clusters.simhashComponentsLocal(fps.toArray,
      maxDist = 3, bandBits = 16)
    assert(local.map { case (d, c, n) => d -> (c, n) }.toMap ==
      fps.map { case (d, _) => d -> (find(d), size(find(d))) }.toMap)
    val (batch, stored) = fps.partition(_._1 % 2 == 0)
    val reps = batch.groupBy(_._2).map { case (fp, m) => (m.map(_._1).min, fp) }.toSeq
    val cross = graft.dedup.Dedup.crossNearEdgesLocal(reps,
      stored.toDF("doc_id", "fp"), "fp", 16, 3, 1000L)
    val bruteCross = (for {
      (a, fa) <- reps; (b, fb) <- stored
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (a, b)).toSet
    assert(bruteCross.nonEmpty)
    assert(cross.map(_.toSet) == Some(bruteCross))
  }
}
