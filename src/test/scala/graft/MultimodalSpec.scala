package graft

import graft.functions.Multimodal
import graft.functions.Multimodal.{MediaRecord, DecodedMedia}

class MultimodalSpec extends SparkSpec {
  private val sql = SparkSpec.spark
  import sql.implicits._

  /** Byte-cycling resize to exactly `targetBytes` (≤ 0 → empty): the stub
    * these cases pin, which no query uses. */
  private def resizeStub(payload: Array[Byte], targetBytes: Int): Array[Byte] =
    if (targetBytes <= 0) Array.emptyByteArray
    else if (payload.isEmpty) new Array[Byte](targetBytes)
    else Array.tabulate(targetBytes)(i => payload(i % payload.length))

  /** GIF-only frame sampling, the selection of
    * [[Multimodal.sampleVideoFrames]] without its AVI container. */
  private def sampleGifFrames(p: Array[Byte], n: Int)
      : Option[IndexedSeq[Multimodal.PixelImage]] =
    if (n <= 0) None
    else Multimodal.decodeGifFrames(p).map { fs =>
      if (fs.length <= n) fs
      else IndexedSeq.tabulate(n)(i => fs(i * fs.length / n))
    }

  test("decode stub: deterministic metadata from byte length") {
    val r = MediaRecord(1L, "img/test", "abcd".getBytes("UTF-8"))
    val d = Multimodal.decodeStub(r)
    assert(d == DecodedMedia(1L, "img/test", 4L, 64 + 28 % 513, 64 + 52 % 513, 1 + 4 % 3))
    // same payload -> same decode (no hidden state)
    assert(Multimodal.decodeStub(r) == d)
  }

  test("feature stub: 8-dim, values in [0,1), deterministic") {
    val f = Multimodal.featureStub(MediaRecord(2L, "img/x", new Array[Byte](123)))
    assert(f.feature.length == Multimodal.FeatureDim)
    assert(f.feature.forall(v => v >= 0.0 && v < 1.0))
    assert(f.feature(0) == ((123L * 7) % 1000) / 1000.0)
  }

  test("resize stub: exact target size, cycles source bytes, empty-safe") {
    val out = resizeStub(Array[Byte](1, 2, 3), 7)
    assert(out.toSeq == Seq[Byte](1, 2, 3, 1, 2, 3, 1))
    assert(resizeStub(Array.emptyByteArray, 4).toSeq == Seq[Byte](0, 0, 0, 0))
  }

  test("frame sample stub: n equal frames, remainder dropped, short-payload-safe") {
    val frames = Multimodal.frameSampleStub(Array[Byte](1, 2, 3, 4, 5, 6, 7), 3)
    assert(frames.map(_.toSeq) == Seq(Seq[Byte](1, 2), Seq[Byte](3, 4), Seq[Byte](5, 6)))
    assert(Multimodal.frameSampleStub(Array[Byte](1), 3).isEmpty)
    assert(Multimodal.frameSampleStub(Array[Byte](1, 2), 0).isEmpty)
    assert(Multimodal.frameSampleStub(Array[Byte](1, 2), -1).isEmpty)
    assert(resizeStub(Array[Byte](1), -4).isEmpty)
  }

  private def pngBytes(w: Int, h: Int, colorType: Byte): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes("US-ASCII"))
    out.putInt(w).putInt(h)
    out.put(8.toByte).put(colorType)            // bit depth, color type
    out.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
    out.array()
  }

  private def bmpBytes(w: Int, h: Int, bpp: Short): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(54).putInt(0).putInt(54)         // file size, reserved, data offset
    out.putInt(40)                              // BITMAPINFOHEADER size
    out.putInt(w).putInt(h)
    out.putShort(1).putShort(bpp)               // planes (must be 1), bits/pixel
    out.array()
  }

  test("real decode: PNG IHDR dimensions and channels parse from actual bytes") {
    assert(Multimodal.parseImageHeader(pngBytes(640, 480, 2)) == Some((640, 480, 3)))
    assert(Multimodal.parseImageHeader(pngBytes(1, 1, 6)) == Some((1, 1, 4)))
    assert(Multimodal.parseImageHeader(pngBytes(32, 16, 0)) == Some((32, 16, 1)))
    // malformed: bad color type, zero width → stub fallback territory
    assert(Multimodal.parseImageHeader(pngBytes(640, 480, 7)).isEmpty)
    assert(Multimodal.parseImageHeader(pngBytes(0, 480, 2)).isEmpty)
    val d = Multimodal.decode(MediaRecord(9L, "img/t", pngBytes(640, 480, 2)))
    assert(d == DecodedMedia(9L, "img/t", 33L, 640, 480, 3))
  }

  test("real decode: BMP BITMAPINFOHEADER parses, top-down height normalized") {
    assert(Multimodal.parseImageHeader(bmpBytes(800, 600, 24)) == Some((800, 600, 3)))
    assert(Multimodal.parseImageHeader(bmpBytes(100, -50, 32)) == Some((100, 50, 4)))
    assert(Multimodal.parseImageHeader(bmpBytes(10, 10, 8)) == Some((10, 10, 1)))
  }

  test("real decode: ASCII text payloads NEVER parse as images (stub fallback)") {
    // worst case: text that starts with the BMP magic — the headerSize and
    // planes fields land on printable ASCII, which cannot encode 40 or 1
    val tricky = "BM this text opens with the bitmap magic bytes and runs on"
    val r = MediaRecord(3L, "img/t", tricky.getBytes("UTF-8"))
    assert(Multimodal.parseImageHeader(r.payload).isEmpty)
    assert(Multimodal.decode(r) == Multimodal.decodeStub(r))
  }

  test("real decode flows through the partition-batched Dataset path") {
    val media = sql.createDataset(Seq(
      MediaRecord(1L, "img/png", pngBytes(640, 480, 2)),
      MediaRecord(2L, "img/bmp", bmpBytes(800, 600, 24)),
      MediaRecord(3L, "img/txt", "plain text payload".getBytes("UTF-8"))))
    val out = Multimodal.decodeAll(media).collect().sortBy(_.doc_id)
    assert(out(0).width == 640 && out(0).height == 480 && out(0).channels == 3)
    assert(out(1).width == 800 && out(1).height == 600 && out(1).channels == 3)
    // text row: stub arithmetic on byte length (18 bytes)
    assert(out(2) == Multimodal.decodeStub(
      MediaRecord(3L, "img/txt", "plain text payload".getBytes("UTF-8"))))
  }

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  test("pixel decode: PNG fixtures inflate + defilter to the exact pattern") {
    // the generator cycles all five filter types across rows, so a wrong
    // Sub/Up/Average/Paeth reversal cannot pass this
    val img = Multimodal.decodePixels(fixture("png_rgb.png")).get
    assert(img.width == 8 && img.height == 8 && img.channels == 3)
    for (y <- 0 until 8; x <- 0 until 8) {
      val o = (y * 8 + x) * 3
      assert((img.pixels(o) & 0xff) == (x * 37 + y * 101) % 256, s"R($x,$y)")
      assert((img.pixels(o + 1) & 0xff) == (x * 59 + y * 13) % 256, s"G($x,$y)")
      assert((img.pixels(o + 2) & 0xff) == (x * 83 + y * 29) % 256, s"B($x,$y)")
    }
    val grey = Multimodal.decodePixels(fixture("png_grey.png")).get
    assert(grey.channels == 1)
    assert((grey.pixels(8 * 3 + 2) & 0xff) == (2 * 31 + 3 * 7) % 256) // (x=2,y=3)
    assert(Multimodal.decodePixels(fixture("png_rgba.png")).get.channels == 4)
    assert(Multimodal.decodePixels(fixture("png_greya.png")).get.channels == 2)
  }

  test("pixel decode: BMP bottom-up + padded stride + BGR order normalized; " +
      "top-down variant decodes identically") {
    val up = Multimodal.decodePixels(fixture("bmp24.bmp")).get
    assert(up.width == 5 && up.height == 6 && up.channels == 3)
    // spot pixel (x=3, y=1) — wrong row order / stride / channel order all
    // shift this
    val o = (1 * 5 + 3) * 3
    assert((up.pixels(o) & 0xff) == (3 * 37 + 1 * 101) % 256)
    assert((up.pixels(o + 1) & 0xff) == (3 * 59 + 1 * 13) % 256)
    assert((up.pixels(o + 2) & 0xff) == (3 * 83 + 1 * 29) % 256)
    val down = Multimodal.decodePixels(fixture("bmp24_topdown.bmp")).get
    assert(down.pixels.toSeq == up.pixels.toSeq)
    assert(Multimodal.decodePixels(fixture("bmp32.bmp")).get.channels == 4)
  }

  test("pixel decode: text and truncated payloads fall back, never throw") {
    assert(Multimodal.decodePixels("not an image".getBytes("UTF-8")).isEmpty)
    val truncated = fixture("png_rgb.png").take(40)
    assert(Multimodal.decodePixels(truncated).isEmpty)
    val truncBmp = fixture("bmp24.bmp").take(60)
    assert(Multimodal.decodePixels(truncBmp).isEmpty)
    // feature falls back to the stub for undecodable payloads
    val r = MediaRecord(5L, "img/t", "plain".getBytes("UTF-8"))
    assert(Multimodal.feature(r).feature.toSeq ==
      Multimodal.featureStub(r).feature.toSeq)
  }

  test("pixel decode: baseline JPEG fixtures match the independent " +
      "make_jpeg_fixtures.py integer-IDCT decoder twin exactly") {
    // expected values are the Python twin's replay over the encoded bytes
    // (same fixed-point IDCT basis / descale / upsample / YCbCr ints) —
    // exact equality, never within-epsilon
    def pin(name: String, w: Int, h: Int, ch: Int, lumaMean: Double,
            featNorm: Double): Unit = {
      val img = Multimodal.decodePixels(fixture(name)).get
      assert(img.width == w && img.height == h && img.channels == ch,
        s"$name dims ${img.width}x${img.height}x${img.channels}")
      val n = w * h
      val lm = (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
      assert(lm == lumaMean, s"$name luma_mean $lm != $lumaMean")
      val f = Multimodal.histFeature(img)
      val norm = math.sqrt(f.map(v => v * v).sum)
      assert(norm == featNorm, s"$name feature_norm $norm != $featNorm")
    }
    pin("jpeg_grey.jpg", 8, 8, 1, 126.046875, 0.4026280852101602)
    pin("jpeg_444.jpg", 16, 8, 3, 126.4453125, 0.44180360986245915)
    pin("jpeg_420.jpg", 18, 10, 3, 126.91666666666667, 0.42192972324550054)
    pin("jpeg_rst.jpg", 24, 8, 3, 126.953125, 0.42999515501146446)
  }

  test("pixel decode: Adam7 PNG, 4-bpp/RLE4 BMP and BI_BITFIELDS match " +
      "make_fixtures.py's independent statistics exactly") {
    def pin(name: String, w: Int, h: Int, ch: Int, lumaMean: Double,
            featNorm: Double): Unit = {
      val img = Multimodal.decodePixels(fixture(name)).get
      assert(img.width == w && img.height == h && img.channels == ch,
        s"$name dims ${img.width}x${img.height}x${img.channels}")
      val n = w * h
      val lm = (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
      assert(lm == lumaMean, s"$name luma_mean $lm != $lumaMean")
      val f = Multimodal.histFeature(img)
      val norm = math.sqrt(f.map(v => v * v).sum)
      assert(norm == featNorm, s"$name feature_norm $norm != $featNorm")
    }
    pin("png_adam7_rgb.png", 10, 9, 3, 122.36666666666666, 0.4115613150544919)
    pin("png_adam7_pal4.png", 9, 7, 3, 118.61904761904762, 0.4367243330856382)
    pin("png_adam7_grey16.png", 8, 8, 1, 58.0, 0.5014627042462879)
    pin("bmp_pal4.bmp", 7, 5, 3, 115.91428571428571, 0.44170356667829447)
    pin("bmp_rle4.bmp", 10, 4, 3, 110.0, 0.42130748865881795)
    pin("bmp16_565.bmp", 6, 5, 3, 96.26666666666667, 0.4346134936801766)
    pin("bmp32_bf.bmp", 4, 4, 4, 110.0, 0.45069390943299864)
    // interlace is a pure transmission reordering: the Adam7 16-bit grey
    // fixture must decode pixel-identical to its sequential twin (same
    // pattern, same dims), and bitfield ARGB8888 to its BI_RGB twin
    val a = Multimodal.decodePixels(fixture("png_adam7_grey16.png")).get
    val s = Multimodal.decodePixels(fixture("png_grey16.png")).get
    assert(a.pixels.toSeq == s.pixels.toSeq)
    val bf = Multimodal.decodePixels(fixture("bmp32_bf.bmp")).get
    val rgb = Multimodal.decodePixels(fixture("bmp32.bmp")).get
    assert(bf.pixels.toSeq == rgb.pixels.toSeq)
  }

  test("pixel decode: progressive JPEG fixtures decode and are pixel-" +
      "identical to their baseline twins (same pattern, same quant)") {
    // progressive transmission is a pure reordering of the same quantized
    // coefficients — the decoded rasters must match the baseline fixtures
    // byte-for-byte, and the twin-pinned stats follow
    for ((prog, base) <- Seq(("jpeg_prog_grey.jpg", "jpeg_grey.jpg"),
                             ("jpeg_prog444.jpg", "jpeg_444.jpg"),
                             ("jpeg_prog420.jpg", "jpeg_420.jpg"))) {
      val pi = Multimodal.decodePixels(fixture(prog))
      val bi = Multimodal.decodePixels(fixture(base))
      assert(pi.isDefined, s"$prog did not decode")
      assert(pi.get.width == bi.get.width && pi.get.height == bi.get.height &&
        pi.get.channels == bi.get.channels, s"$prog dims")
      assert(pi.get.pixels.toSeq == bi.get.pixels.toSeq, s"$prog pixels")
    }
  }

  test("pixel decode: malformed / truncated JPEG falls back, never throws") {
    val good = fixture("jpeg_444.jpg")
    // flip SOF0 (FFC0) to SOF2 (FFC2): the stream then carries a baseline
    // scan header (Ss=0, Se=63) that is invalid for progressive — reject
    val prog = good.clone()
    val sofAt = prog.indices.dropRight(1)
      .find(i => (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Multimodal.decodePixels(prog).isEmpty)
    // entropy data cut mid-scan: must return None, not throw or hang
    assert(Multimodal.decodePixels(good.take(good.length - 40)).isEmpty)
    assert(Multimodal.decodePixels(good.take(20)).isEmpty)
    // a truncated PROGRESSIVE stream must also fall back cleanly
    val pgood = fixture("jpeg_prog444.jpg")
    assert(Multimodal.decodePixels(pgood.take(pgood.length - 40)).isEmpty)
  }

  test("real features: luminance histogram matches the independent " +
      "make_fixtures.py statistics") {
    val img = Multimodal.decodePixels(fixture("png_rgb.png")).get
    val f = Multimodal.histFeature(img)
    assert(f.length == Multimodal.FeatureDim)
    assert(math.abs(f.sum - 1.0) < 1e-12)
    val norm = math.sqrt(f.map(v => v * v).sum)
    assert(norm == 0.42847841252506524) // exact: dyadic fractions
    val bmp = Multimodal.decodePixels(fixture("bmp24.bmp")).get
    val lumaMean = (0 until 30).map(Multimodal.luma(bmp, _)).sum / 30.0
    assert(lumaMean == 118.86666666666666)
  }

  test("pixel decode: palette PNG (depth 8 + depth 4 odd-width) resolves " +
      "PLTE entries to the exact RGB pattern") {
    // generator palette: entry i = (53i, 97i, 31i) mod 256; index (5x+11y)%64
    val p8 = Multimodal.decodePixels(fixture("png_pal8.png")).get
    assert(p8.width == 8 && p8.height == 8 && p8.channels == 3)
    for (y <- 0 until 8; x <- 0 until 8) {
      val i = (x * 5 + y * 11) % 64
      val o = (y * 8 + x) * 3
      assert((p8.pixels(o) & 0xff) == (i * 53) % 256, s"R($x,$y)")
      assert((p8.pixels(o + 1) & 0xff) == (i * 97) % 256, s"G($x,$y)")
      assert((p8.pixels(o + 2) & 0xff) == (i * 31) % 256, s"B($x,$y)")
    }
    // depth 4, width 6 (3 bytes/row, partial nibble padding), 16 entries
    val p4 = Multimodal.decodePixels(fixture("png_pal4.png")).get
    assert(p4.width == 6 && p4.height == 5 && p4.channels == 3)
    for (y <- 0 until 5; x <- 0 until 6) {
      val i = (x * 3 + y * 7) % 16
      val o = (y * 6 + x) * 3
      assert((p4.pixels(o) & 0xff) == (i * 29) % 256, s"R($x,$y)")
      assert((p4.pixels(o + 1) & 0xff) == (i * 61) % 256, s"G($x,$y)")
      assert((p4.pixels(o + 2) & 0xff) == (i * 101) % 256, s"B($x,$y)")
    }
  }

  test("pixel decode: 16-bit PNG narrows each sample to its high byte") {
    val g16 = Multimodal.decodePixels(fixture("png_grey16.png")).get
    assert(g16.width == 8 && g16.height == 8 && g16.channels == 1)
    for (y <- 0 until 8; x <- 0 until 8)
      assert((g16.pixels(y * 8 + x) & 0xff) ==
        ((x * 4021 + y * 257) % 65536) >> 8, s"($x,$y)")
    val c16 = Multimodal.decodePixels(fixture("png_rgb16.png")).get
    assert(c16.channels == 3)
    val o = (2 * 8 + 3) * 3 // spot pixel (x=3, y=2)
    assert((c16.pixels(o) & 0xff) == ((3 * 4021 + 2 * 257) % 65536) >> 8)
    assert((c16.pixels(o + 1) & 0xff) == ((3 * 1031 + 2 * 523) % 65536) >> 8)
    assert((c16.pixels(o + 2) & 0xff) == ((3 * 757 + 2 * 3001) % 65536) >> 8)
  }

  test("pixel decode: 8bpp BMP color table, and RLE8 (runs + absolute mode " +
      "+ EOL/EOF escapes) reproduces the same pattern") {
    def expect(img: Multimodal.PixelImage, w: Int, h: Int): Unit =
      for (y <- 0 until h; x <- 0 until w) {
        val i = ((x / 3) * 7 + y * 13) % 64
        val o = (y * w + x) * 3
        assert((img.pixels(o) & 0xff) == (i * 53) % 256, s"R($x,$y)")
        assert((img.pixels(o + 1) & 0xff) == (i * 97) % 256, s"G($x,$y)")
        assert((img.pixels(o + 2) & 0xff) == (i * 31) % 256, s"B($x,$y)")
      }
    val pal = Multimodal.decodePixels(fixture("bmp_pal8.bmp")).get
    assert(pal.width == 7 && pal.height == 5 && pal.channels == 3)
    expect(pal, 7, 5)
    val rle = Multimodal.decodePixels(fixture("bmp_rle8.bmp")).get
    assert(rle.width == 10 && rle.height == 4 && rle.channels == 3)
    expect(rle, 10, 4)
  }

  test("real resize: nearest-neighbor floor mapping, channel-preserving, " +
      "degenerate-target-safe") {
    val img = Multimodal.decodePixels(fixture("png_rgb.png")).get
    val r = Multimodal.resizePixels(img, 3, 2).get
    assert(r.width == 3 && r.height == 2 && r.channels == 3)
    for (y <- 0 until 2; x <- 0 until 3) {
      val sx = x * 8 / 3; val sy = y * 8 / 2
      val o = (y * 3 + x) * 3
      assert((r.pixels(o) & 0xff) == (sx * 37 + sy * 101) % 256, s"R($x,$y)")
      assert((r.pixels(o + 1) & 0xff) == (sx * 59 + sy * 13) % 256, s"G($x,$y)")
      assert((r.pixels(o + 2) & 0xff) == (sx * 83 + sy * 29) % 256, s"B($x,$y)")
    }
    // upscale hits every source coordinate via the same mapping
    val up = Multimodal.resizePixels(img, 16, 16).get
    assert((up.pixels(((5 * 16) + 7) * 3) & 0xff) ==
      ((7 * 8 / 16) * 37 + (5 * 8 / 16) * 101) % 256)
    assert(Multimodal.resizePixels(img, 0, 2).isEmpty)
    assert(Multimodal.resizePixels(img, 3, -1).isEmpty)
  }

  // ---- audio (WAV) ----

  private def fixtureBytes(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
    require(in != null, s"missing $name")
    try in.readAllBytes() finally in.close()
  }

  test("wav decode: 16-bit mono stats match the independent Python values") {
    val clip = Multimodal.decodeWav(fixtureBytes("wav16_mono.wav")).get
    assert((clip.sampleRate, clip.channels, clip.bits) == ((8000, 1, 16)))
    assert(clip.samples.length == 64)
    // raw pattern: ((k*2477 + 101) % 8192) - 4096
    assert(clip.samples(0) == 101 - 4096)
    assert(clip.samples(1) == ((2477 + 101) % 8192) - 4096)
    val st = Multimodal.audioStats(-101L, clip)
    assert(st.n_frames == 64 && st.zero_cross == 38)
    assert(math.abs(st.rms - 0.07297891665970874) < 1e-15)
    assert(math.abs(st.peak - 0.12261962890625) < 1e-15)
    assert(st.duration_ms == 8.0)
  }

  test("wav decode: junk LIST chunk with ODD size is walked over (pad rule)") {
    val clip = Multimodal.decodeWav(fixtureBytes("wav16_chunks.wav")).get
    assert(clip.sampleRate == 22050 && clip.samples.length == 40)
    val st = Multimodal.audioStats(-104L, clip)
    assert(st.zero_cross == 34 && math.abs(st.peak - 0.03125) < 1e-15)
  }

  test("wav decode: 8-bit unsigned centers at 128; stereo zero-cross walks " +
    "channel 0 only") {
    val c8 = Multimodal.decodeWav(fixtureBytes("wav8_mono.wav")).get
    assert(c8.bits == 8)
    assert(c8.samples(0) == 11 - 128) // pattern (k*37+11)%256, centered
    val st8 = Multimodal.audioStats(-103L, c8)
    assert(st8.zero_cross == 21 && math.abs(st8.peak - 0.9921875) < 1e-15)
    val cs = Multimodal.decodeWav(fixtureBytes("wav16_stereo.wav")).get
    assert(cs.channels == 2)
    val sts = Multimodal.audioStats(-102L, cs)
    assert(sts.n_frames == 48 && sts.zero_cross == 7)
  }

  test("wav decode: text, truncated, and non-PCM payloads return None") {
    assert(Multimodal.decodeWav("not a wav at all, just text.".getBytes).isEmpty)
    val good = fixtureBytes("wav16_mono.wav")
    assert(Multimodal.decodeWav(good.take(30)).isEmpty)
    val bad = good.clone()
    bad(20) = 2 // audioFormat = 2 (ADPCM) in the fmt chunk
    assert(Multimodal.decodeWav(bad).isEmpty)
    // data chunk claiming more bytes than the payload holds
    val trunc = good.clone()
    trunc(good.length - 82) = 0x7f // corrupt data-size field region harmlessly
    assert(Multimodal.decodeWav(good.dropRight(10)).isEmpty)
  }

  // ---- video (GIF) ----

  test("gif decode: 4-frame animation decodes every frame at 10x8 RGB with " +
    "the independent Python luma values") {
    val frames = Multimodal.decodeGifFrames(fixtureBytes("gif_anim.gif")).get
    assert(frames.length == 4)
    assert(frames.forall(f => f.width == 10 && f.height == 8 && f.channels == 3))
    def lumaMean(img: Multimodal.PixelImage): Double = {
      val n = img.width * img.height
      (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
    }
    assert(lumaMean(frames(0)) == 105.875)
    assert(lumaMean(frames(1)) == 103.1875)
  }

  test("gif decode: local color table overrides global for its frame only") {
    val frames = Multimodal.decodeGifFrames(fixtureBytes("gif_lct.gif")).get
    assert(frames.length == 3)
    def lumaMean(img: Multimodal.PixelImage): Double = {
      val n = img.width * img.height
      (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
    }
    assert(lumaMean(frames(0)) == 113.3)   // GCT
    assert(lumaMean(frames(1)) == 134.7)   // frame-local LCT
    assert(lumaMean(frames(2)) == 131.35)  // back to GCT
  }

  test("gif decode: 16-color stream exercises LZW width growth; comment " +
    "extension and 87a header are handled") {
    val wide = Multimodal.decodeGifFrames(fixtureBytes("gif_wide.gif")).get
    assert(wide.length == 5 && wide.head.width == 12 && wide.head.height == 3)
    val single = Multimodal.decodeGifFrames(fixtureBytes("gif_single.gif")).get
    assert(single.length == 1 && single.head.width == 7)
  }

  test("gif decode: KwKwK code (code == next dictionary entry) decodes — " +
    "handcrafted run-of-one-color stream") {
    // 5x1 GIF, indices [1,1,1,1,1]: code sequence hits code==next (KwKwK);
    // bytes emitted by tools/make_av_fixtures.py's encoder for this input
    val g = Array[Int](71, 73, 70, 56, 57, 97, 5, 0, 1, 0, -15, 0, 0, 38, 14,
      -30, 91, 111, -1, -112, -48, 28, -59, 49, 57, 44, 0, 0, 0, 0, 5, 0, 1,
      0, 0, 2, 3, -116, -83, 0, 0, 59).map(_.toByte)
    val frames = Multimodal.decodeGifFrames(g).get
    assert(frames.length == 1 && frames.head.width == 5 && frames.head.height == 1)
    // all five pixels = palette[1] = (91, 111, 255), luma 121
    (0 until 5).foreach(i => assert(Multimodal.luma(frames.head, i) == 121))
  }

  test("gif decode: text and truncated payloads return None; frame sampling " +
    "falls back to the byte-split stub for non-GIF") {
    assert(Multimodal.decodeGifFrames("GIF89a but not really".getBytes).isEmpty)
    val good = fixtureBytes("gif_anim.gif")
    assert(Multimodal.decodeGifFrames(good.take(40)).isEmpty)
    assert(sampleGifFrames("plain text".getBytes, 3).isEmpty)
  }

  test("gif frame sampling: evenly-spaced floor(i*f/n) selection, all frames " +
    "when clip is short") {
    val wide = fixtureBytes("gif_wide.gif") // 5 frames
    val s3 = sampleGifFrames(wide, 3).get
    assert(s3.length == 3) // file frames 0, 1, 3 — pinned via q_media_video
    val all = sampleGifFrames(wide, 9).get
    assert(all.length == 5)
    val anim = sampleGifFrames(fixtureBytes("gif_anim.gif"), 4).get
    assert(anim.length == 4)
  }

  test("gif decode: interlace-flagged frames are de-interlaced to display " +
    "row order (four-pass scatter)") {
    val frames =
      Multimodal.decodeGifFrames(fixtureBytes("gif_interlaced.gif")).get
    assert(frames.length == 3)
    assert(frames.forall(f => f.width == 9 && f.height == 13 && f.channels == 3))
    def lumaMean(img: Multimodal.PixelImage): Double = {
      val n = img.width * img.height
      (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
    }
    // expected values from make_video_fixtures.py over the DISPLAY-order
    // pattern — ignoring the interlace flag would permute rows and shift
    // per-frame lumas (patterns carry an x*y*f cross term)
    assert(lumaMean(frames(0)) == 121.78632478632478)
    assert(lumaMean(frames(1)) == 114.41880341880342)
    assert(lumaMean(frames(2)) == 121.56410256410257)
  }

  test("avi decode: MJPEG frames found through hdrl/movi/rec walk and " +
    "decoded by the engine's JPEG path; audio chunks skipped") {
    val frames = Multimodal.decodeAviFrames(fixtureBytes("avi_mjpeg.avi")).get
    assert(frames.length == 5)
    assert(frames.forall(f => f.width == 16 && f.height == 8 && f.channels == 3))
    def lumaMean(img: Multimodal.PixelImage): Double = {
      val n = img.width * img.height
      (0 until n).map(Multimodal.luma(img, _)).sum.toDouble / n
    }
    // decoder-twin values (make_video_fixtures.py): frames 0,1 and the
    // rec'-nested frame 3
    assert(lumaMean(frames(0)) == 126.4453125)
    assert(lumaMean(frames(1)) == 125.28125)
    assert(lumaMean(frames(3)) == 129.9921875)
  }

  test("avi decode: malformed containers return None") {
    val good = fixtureBytes("avi_mjpeg.avi")
    assert(Multimodal.decodeAviFrames(good.take(60)).isEmpty)   // truncated
    assert(Multimodal.decodeAviFrames("RIFFxxxxAVI but no".getBytes).isEmpty)
    assert(Multimodal.decodeAviFrames("plain text".getBytes).isEmpty)
    // video sampler dispatches on container magic
    assert(Multimodal.sampleVideoFrames(good, 3).get.length == 3)
    assert(Multimodal.sampleVideoFrames(good, 9).get.length == 5)
  }

  test("framesAll: REAL frame profile for GIF payloads, stub for text") {
    val media = Multimodal.fixtureVideo(spark)
    val rows = Multimodal.framesAll(media, 4).collect()
      .map(f => f.doc_id -> ((f.n_frames, f.frame_len))).toMap
    // expected table from tools/make_av_fixtures.py (frame_len = w*h*3)
    assert(rows(-201L) == ((4, 240)))
    assert(rows(-202L) == ((1, 105)))
    assert(rows(-203L) == ((3, 60)))
    assert(rows(-204L) == ((4, 108)))
    // text payloads keep the stub byte-split contract
    val txt = spark.createDataset(Seq(
      MediaRecord(7L, "img/x", "twelve bytes".getBytes)))
    val stub = Multimodal.framesAll(txt, 4).head()
    assert(stub.n_frames == 4 && stub.frame_len == 3)
  }

  test("audio/video fixture catalogs flow through the partition-batched path") {
    val a = Multimodal.audioStatsAll(Multimodal.fixtureAudio(spark).repartition(3))
    assert(a.count() == 4)
    val v = Multimodal.videoFrameStatsAll(
      Multimodal.fixtureVideo(spark).repartition(3), 3)
    assert(v.count() == 16) // 10 GIF + 3 interlaced-GIF + 3 AVI rows
  }

  test("dataset plumbing: binary payloads decode per-partition, rows preserved") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val media = Multimodal.mediaFromDocuments(docs).repartition(4)
    assert(media.rdd.getNumPartitions == 4)
    val decoded = Multimodal.decodeAll(media)
    assert(decoded.count() == docs.count())
    // payload bytes == utf-8 text bytes for a spot row
    val row = media.filter(_.doc_id == 0L).head()
    val txt = docs.filter($"doc_id" === 0L).select("text").as[String].head()
    assert(row.payload.toSeq == txt.getBytes("UTF-8").toSeq)
  }

  test("encodePng: exact raster round-trip on every fixture; closed-form length") {
    val recs = Multimodal.fixtureMedia(sql).collect()
    assert(recs.length >= 27)
    recs.foreach { r =>
      val img = Multimodal.decodePixels(r.payload)
        .getOrElse(fail(s"fixture ${r.doc_id} must decode"))
      val enc = Multimodal.encodePng(img)
      val back = Multimodal.decodePixels(enc)
        .getOrElse(fail(s"fixture ${r.doc_id}: own output must decode"))
      assert(back.width == img.width && back.height == img.height &&
        back.channels == img.channels, s"fixture ${r.doc_id} shape")
      assert(java.util.Arrays.equals(back.pixels, img.pixels),
        s"fixture ${r.doc_id}: pixels must round-trip bit-for-bit")
      val nRaw = img.height * (1 + img.width * img.channels)
      assert(enc.length == 63 + nRaw + 5 * ((nRaw + 65534) / 65535),
        s"fixture ${r.doc_id}: stored-deflate length formula")
    }
  }
}
