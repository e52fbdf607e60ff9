package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the training-data pipeline (north-star op,
  * BASELINE.json): image/audio/video travel as opaque `binary` payload
  * columns with typed metadata structs; decode / feature-extraction /
  * resize / frame-sampling run as partition-batched functions over typed
  * Datasets (`mapPartitions` — the JVM analog of a vectorized batch UDF:
  * one iterator per partition, no per-row driver round-trips).
  *
  * ==== STUB NOTICE (narrowed again, round 9) ====
  * The decode path is REAL end-to-end for PNG at bit depth 8 and 16
  * (Inflater + all five scanline filters, color types 0/2/4/6; 16-bit
  * samples narrowed to their high byte, the spec's approximation;
  * sequential AND Adam7-interlaced — per-pass defilter + scatter), for
  * palette PNG (color type 3 at depths 1/2/4/8, PLTE lookup → RGB), for
  * BMP 24/32-bpp uncompressed, 8/4-bpp color-table (incl. BI_RLE8 and
  * BI_RLE4), 16/32-bpp BI_BITFIELDS (mask decomposition + floor rescale)
  * and 16-bpp default 5-5-5, and
  * for JPEG — BASELINE (SOF0/SOF1, greyscale + YCbCr at
  * 4:4:4/4:2:2/4:2:0, restart markers; fixed-point integer IDCT —
  * [[decodeJpeg]]) AND PROGRESSIVE (SOF2 Huffman: spectral selection +
  * successive approximation, DC/AC first and refinement scans, EOB runs —
  * [[decodeJpegProgressive]])
  * ([[decodePixels]] — pure-JVM, no codec library). Feature extraction
  * over decodable payloads is a REAL statistic (the 8-bin luminance
  * histogram, [[histFeature]]), and resize is a REAL nearest-neighbor
  * resample over decoded rasters ([[resizePixels]]). The deterministic
  * byte-length FAKES ([[decodeStub]]/[[featureStub]])
  * remain only as the fallback for payloads outside those formats
  * (arithmetic-coded/hierarchical/12-bit JPEG, 1/2-bpp BMP, the
  * testdata's UTF-8 text payloads). AUDIO decode is REAL for RIFF/WAVE PCM at 8 and 16 bits
  * ([[decodeWav]] — chunk walk with the odd-size pad rule, sign
  * extension, per-clip rms/peak/zero-cross statistics). VIDEO frame
  * sampling is REAL for animated GIF ([[decodeGifFrames]] — full LZW
  * decompression with variable code widths and the KwKwK case, global
  * and local color tables, extension skipping, four-pass de-interlace)
  * AND for Motion-JPEG in AVI ([[decodeAviFrames]] — RIFF chunk-tree
  * walk incl. LIST('rec ') interleave groups, each `##dc`/`##db` frame
  * through the engine's own JPEG decoder); evenly-spaced frame
  * selection in [[sampleVideoFrames]]. Payloads in neither container
  * fall back to the byte-split stub, and inter-frame-predictive codecs
  * (H.264 etc.) remain out of scope. The Spark-side contract — schema,
  * encoders, partitioning, batch iteration shape — is real throughout;
  * MultimodalSpec drives the committed binary fixtures through the same
  * mapPartitions path the registered queries use, and q_media_pixels /
  * q_media_resize pin the decoded statistics to independently computed
  * values (tools/make_fixtures.py).
  */
object Multimodal {

  /** An opaque media payload + routing metadata. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Typed decode result (image-style metadata). */
  case class DecodedMedia(doc_id: Long, media_type: String, byte_len: Long,
                          width: Int, height: Int, channels: Int)

  /** Fixed-length feature vector extracted per payload. */
  case class MediaFeature(doc_id: Long, feature: Array[Double])

  val FeatureDim = 8
  private val FeaturePrimes = Array(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  /** STUB decode: metadata derived arithmetically from the byte length —
    * the fallback for payloads that are not a recognized image format.
    * Deterministic and SQL-expressible so the full pipeline is
    * oracle-checkable. */
  def decodeStub(r: MediaRecord): DecodedMedia = {
    val n = r.payload.length.toLong
    DecodedMedia(r.doc_id, r.media_type, n,
      width = (64 + (n * 7) % 513).toInt,
      height = (64 + (n * 13) % 513).toInt,
      channels = (1 + n % 3).toInt)
  }

  private def be32(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
      ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
  private def le32(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
      ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)

  /** REAL image-header parse (no codec library needed — both formats put
    * dimensions at fixed offsets in a documented public header):
    *
    *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`, then the IHDR
    *    chunk (always first, per the PNG spec): width/height as big-endian
    *    int32 at offsets 16/20, color type at 25 → channel count
    *    (grey 1, rgb 3, palette 1, grey+α 2, rgba 4).
    *  - BMP: `BM` magic, then BITMAPINFOHEADER: header size (LE int32, one
    *    of the documented sizes) at 14, width at 18, height at 22 (may be
    *    negative for top-down rows), planes (must be 1) at 26, bits/pixel
    *    at 28 → channels = bpp/8. The headerSize+planes checks make an
    *    accidental match on ASCII text impossible (ASCII bytes ≥ 0x20 can
    *    encode neither 40 nor 1 in those little-endian fields).
    *
    * Returns None for anything unrecognized or malformed → caller falls
    * back to [[decodeStub]]. */
  def parseImageHeader(p: Array[Byte]): Option[(Int, Int, Int)] = {
    if (p.length >= 26 &&
        (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        p(4) == 0x0d && p(5) == 0x0a && p(6) == 0x1a && p(7) == 0x0a &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R') {
      val w = be32(p, 16); val h = be32(p, 20)
      val channels = (p(25) & 0xff) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => -1
      }
      if (w > 0 && h > 0 && channels > 0) Some((w, h, channels)) else None
    } else if (p.length >= 30 && p(0) == 'B' && p(1) == 'M' &&
        Set(12, 40, 52, 56, 64, 108, 124).contains(le32(p, 14)) &&
        le16(p, 26) == 1) {
      val w = le32(p, 18); val h = math.abs(le32(p, 22))
      val channels = math.max(le16(p, 28) / 8, 1)
      if (w > 0 && h > 0) Some((w, h, channels)) else None
    } else None
  }

  /** Decode one record: real header parse first, stub fallback (VERDICT r4
    * #6). The testdata payloads are UTF-8 text — never a valid PNG/BMP
    * (PNG's first byte is non-ASCII; the BMP branch requires binary-only
    * field values) — so the registered q_media_* oracles keep their stub
    * arithmetic, while real image bytes decode for real. */
  def decode(r: MediaRecord): DecodedMedia =
    parseImageHeader(r.payload) match {
      case Some((w, h, c)) =>
        DecodedMedia(r.doc_id, r.media_type, r.payload.length.toLong, w, h, c)
      case None => decodeStub(r)
    }

  /** STUB feature extraction: 8-dim deterministic pseudo-embedding — the
    * fallback for payloads [[decodePixels]] cannot decode. */
  def featureStub(r: MediaRecord): MediaFeature = {
    val n = r.payload.length.toLong
    MediaFeature(r.doc_id,
      FeaturePrimes.map(p => ((n * p) % 1000).toDouble / 1000.0))
  }

  /** A fully decoded raster: 8-bit samples, channel-interleaved, row-major,
    * TOP-DOWN, unpadded; channel order grey / grey+α / RGB / RGBA. */
  case class PixelImage(width: Int, height: Int, channels: Int,
                        pixels: Array[Byte])

  /** REAL pixel decode (round-5 VERDICT #2 — no codec library, pure JVM):
    *
    *  - **PNG** (spec: RFC 2083 / W3C PNG): sequential and Adam7; color types
    *    0/2/4/6 at bit depth 8 and 16 (16-bit samples narrow to their high
    *    byte), palette type 3 at depths 1/2/4/8 (MSB-first index unpack +
    *    PLTE lookup → RGB). IDAT chunks are concatenated, inflated with
    *    `java.util.zip.Inflater` (zlib stream, as the spec mandates), and
    *    every scanline's filter (None/Sub/Up/Average/Paeth) is reversed.
    *    Adam7 interlacing is decoded per-pass (defilter within the pass's
    *    reduced image, then scatter into the full raster).
    *  - **BMP**: BITMAPINFOHEADER-family. BI_RGB 24/32 bpp, 8-bpp with a
    *    color table, and 8-bpp BI_RLE8 (run/absolute/EOL/delta/EOF).
    *    Rows are stride-padded to 4 bytes and stored bottom-up unless the
    *    height is negative (top-down); samples arrive BGR(A) and are
    *    reordered to RGB(A) so channel statistics mean the same thing for
    *    every format.
    *
    * Returns None for anything unrecognized/malformed/truncated — the
    * caller keeps the stub fallback, so a corrupt payload can never kill a
    * 100-TB pass (the error-table pattern applies upstream). */
  def decodePixels(p: Array[Byte]): Option[PixelImage] = {
    try {
      if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P') decodePng(p)
      else if (p.length >= 54 && p(0) == 'B' && p(1) == 'M') decodeBmp(p)
      else if (p.length >= 4 && (p(0) & 0xff) == 0xff &&
        (p(1) & 0xff) == 0xd8) decodeJpeg(p)
      else None
    } catch { case _: Exception => None }
  }

  /** Reverse PNG scanline filters (spec §6) over `nRows` rows of
    * `rowBytes` bytes starting at `start` in `raw` (each row prefixed by
    * its filter-type byte). None on an invalid filter type. */
  private def pngDefilter(raw: Array[Byte], start: Int, nRows: Int,
                          rowBytes: Int, bpp: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](nRows * rowBytes)
    var y = 0
    while (y < nRows) {
      val ft = raw(start + y * (1 + rowBytes)) & 0xff
      val src = start + y * (1 + rowBytes) + 1
      val dst = y * rowBytes
      var i = 0
      while (i < rowBytes) {
        val x = raw(src + i) & 0xff
        val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0        // left
        val b = if (y > 0) out(dst - rowBytes + i) & 0xff else 0      // up
        val c = if (y > 0 && i >= bpp) out(dst - rowBytes + i - bpp) & 0xff
                else 0                                                 // up-left
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => // Paeth predictor
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => return None
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      y += 1
    }
    Some(out)
  }

  private def decodePng(p: Array[Byte]): Option[PixelImage] = {
    if (!(p.length >= 33 &&
        (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        p(4) == 0x0d && p(5) == 0x0a && p(6) == 0x1a && p(7) == 0x0a &&
        p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R'))
      return None
    val w = be32(p, 16); val h = be32(p, 20)
    val bitDepth = p(24) & 0xff
    val colorType = p(25) & 0xff
    // samples per pixel IN THE ENCODED STREAM (palette = 1 index sample)
    val rawCh = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    val depthOk = colorType match {
      case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 || bitDepth == 8
      case _ => bitDepth == 8 || bitDepth == 16
    }
    // compression=0, filter=0; interlace 0 (sequential) or 1 (Adam7)
    val interlace = p(28) & 0xff
    if (w <= 0 || h <= 0 || !depthOk || p(26) != 0 || p(27) != 0 ||
        interlace > 1) return None
    // walk chunks, concatenating IDAT payloads and capturing PLTE
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var off = 8
    var done = false
    while (!done && off + 8 <= p.length) {
      val len = be32(p, off)
      val typ = new String(p, off + 4, 4, "US-ASCII")
      if (len < 0 || off + 12 + len > p.length) return None
      if (typ == "IDAT") idat.write(p, off + 8, len)
      if (typ == "PLTE") plte = java.util.Arrays.copyOfRange(p, off + 8, off + 8 + len)
      if (typ == "IEND") done = true
      off += 12 + len // len + type + data + crc
    }
    val bitsPerPixel = rawCh * bitDepth
    // filtering operates on bytes; sub-byte depths use a 1-byte step (spec §6)
    val bpp = math.max(1, bitsPerPixel / 8)
    val rowBytes = (w * bitsPerPixel + 7) / 8
    // Adam7 pass geometry (spec §8.2); sequential = one full-size pass.
    // Each pass is an independent sub-image: its own scanline filters
    // (context resets at the pass boundary) and its own row byte width.
    val passes =
      if (interlace == 0) Array((0, 0, 1, 1))
      else Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val passDims = passes.map { case (x0, y0, dx, dy) =>
      ((if (w > x0) (w - x0 + dx - 1) / dx else 0),
        (if (h > y0) (h - y0 + dy - 1) / dy else 0))
    }
    val rawLen = passDims.map { case (pw, ph) =>
      if (pw <= 0 || ph <= 0) 0L
      else ph.toLong * (1 + (pw.toLong * bitsPerPixel + 7) / 8)
    }.sum
    if (rawLen <= 0 || rawLen > Int.MaxValue) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    while (got < raw.length && !inf.finished()) {
      val n = inf.inflate(raw, got, raw.length - got)
      if (n == 0 && inf.needsInput()) return None // truncated stream
      got += n
    }
    inf.end()
    if (got < raw.length) return None
    // defilter each pass, then scatter its pixels into the sequential
    // full-image layout (empty passes contribute no bytes, spec §8.2)
    val out = new Array[Byte](h * rowBytes)
    var rawOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (x0, y0, dx, dy) = passes(pi)
      val (pw, ph) = passDims(pi)
      if (pw > 0 && ph > 0) {
        val prb = (pw * bitsPerPixel + 7) / 8
        val dec = pngDefilter(raw, rawOff, ph, prb, bpp).getOrElse(return None)
        rawOff += ph * (1 + prb)
        if (interlace == 0) {
          System.arraycopy(dec, 0, out, 0, dec.length)
        } else if (bitsPerPixel >= 8) {
          val pb = bitsPerPixel / 8
          var j = 0
          while (j < ph) {
            var i = 0
            while (i < pw) {
              System.arraycopy(dec, j * prb + i * pb, out,
                (y0 + j * dy) * rowBytes + (x0 + i * dx) * pb, pb)
              i += 1
            }
            j += 1
          }
        } else {
          // sub-byte palette indices: extract from the pass row (MSB-first)
          // and re-pack at the target x position
          val mask = (1 << bitDepth) - 1
          var j = 0
          while (j < ph) {
            val ty = y0 + j * dy
            var i = 0
            while (i < pw) {
              val sp = i * bitDepth
              val v = ((dec(j * prb + (sp >> 3)) & 0xff) >>
                (8 - bitDepth - (sp & 7))) & mask
              val tp = (x0 + i * dx) * bitDepth
              val o = ty * rowBytes + (tp >> 3)
              out(o) = (out(o) | (v << (8 - bitDepth - (tp & 7)))).toByte
              i += 1
            }
            j += 1
          }
        }
      }
      pi += 1
    }
    // widen the defiltered byte stream into 8-bit interleaved samples
    if (colorType == 3) {
      // palette: unpack the bit-packed indices (MSB-first within each
      // byte, rows padded to a byte boundary), then PLTE lookup → RGB
      if (plte == null || plte.length < 3 || plte.length % 3 != 0) return None
      val nEntries = plte.length / 3
      val mask = (1 << bitDepth) - 1
      val px = new Array[Byte](h * w * 3)
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val bitPos = xx * bitDepth
          val b = out(yy * rowBytes + (bitPos >> 3)) & 0xff
          val idx = (b >> (8 - bitDepth - (bitPos & 7))) & mask
          if (idx >= nEntries) return None
          val d = (yy * w + xx) * 3
          px(d) = plte(idx * 3); px(d + 1) = plte(idx * 3 + 1)
          px(d + 2) = plte(idx * 3 + 2)
          xx += 1
        }
        yy += 1
      }
      Some(PixelImage(w, h, 3, px))
    } else if (bitDepth == 16) {
      // narrow 16-bit samples to their high byte (the spec-sanctioned
      // approximation of v*255/65535)
      val n = h * w * rawCh
      val px = new Array[Byte](n)
      var i = 0
      while (i < n) { px(i) = out(i * 2); i += 1 }
      Some(PixelImage(w, h, rawCh, px))
    } else Some(PixelImage(w, h, rawCh, out))
  }

  private def decodeBmp(p: Array[Byte]): Option[PixelImage] = {
    if (!(p.length >= 54 && p(0) == 'B' && p(1) == 'M' &&
        Set(40, 52, 56, 64, 108, 124).contains(le32(p, 14)) &&
        le16(p, 26) == 1)) return None
    val bpp = le16(p, 28)
    val compression = le32(p, 30)
    val w = le32(p, 18); val rawH = le32(p, 22)
    val topDown = rawH < 0
    val h = math.abs(rawH)
    if (w <= 0 || h == 0) return None
    val dataOff = le32(p, 10)
    if ((bpp == 16 || bpp == 32) && compression == 3)
      return decodeBmpBitfields(p, w, h, topDown, bpp, readMasks = true,
        dataOff)
    if (bpp == 16 && compression == 0) // default 5-5-5 fields
      return decodeBmpBitfields(p, w, h, topDown, bpp, readMasks = false,
        dataOff)
    if (bpp == 4)
      return decodeBmp4(p, w, h, topDown, compression, dataOff)
    if (bpp == 24 || bpp == 32) {
      if (compression != 0) return None // BI_RGB only here
      val nch = bpp / 8
      val stride = (w * nch + 3) & ~3
      if (dataOff < 54 || dataOff.toLong + stride.toLong * h > p.length)
        return None
      val out = new Array[Byte](h * w * nch)
      var y = 0
      while (y < h) {
        val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val s = srcRow + x * nch
          val d = (y * w + x) * nch
          out(d) = p(s + 2)     // R  (file order is BGR[A])
          out(d + 1) = p(s + 1) // G
          out(d + 2) = p(s)     // B
          if (nch == 4) out(d + 3) = p(s + 3)
          x += 1
        }
        y += 1
      }
      Some(PixelImage(w, h, nch, out))
    } else if (bpp == 8) decodeBmp8(p, w, h, topDown, compression, dataOff)
    else None
  }

  /** 8-bpp BMP: color-table lookup → RGB; BI_RGB (compression 0, padded
    * stride) or BI_RLE8 (compression 1 — run/absolute/EOL/delta/EOF
    * escapes, bottom-up as the format mandates; pixels an RLE delta skips
    * stay index 0, the de-facto decoder convention). */
  private def decodeBmp8(p: Array[Byte], w: Int, h: Int, topDown: Boolean,
                         compression: Int, dataOff: Int): Option[PixelImage] = {
    if (compression != 0 && compression != 1) return None
    if (compression == 1 && topDown) return None // RLE is bottom-up only
    val hdrSize = le32(p, 14)
    val clrUsed = le32(p, 46)
    val nColors = if (clrUsed == 0) 256 else clrUsed
    val tbl = 14 + hdrSize // BGRX quads follow the info header
    if (nColors < 1 || nColors > 256 ||
        tbl.toLong + 4L * nColors > p.length) return None
    // decode to a top-down row-major index buffer first
    val idx = new Array[Byte](w * h)
    if (compression == 0) {
      val stride = (w + 3) & ~3
      if (dataOff.toLong + stride.toLong * h > p.length) return None
      var y = 0
      while (y < h) {
        val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
        System.arraycopy(p, srcRow, idx, y * w, w)
        y += 1
      }
    } else {
      var pos = dataOff
      var x = 0
      var yBot = 0 // row counted from the bottom
      var eof = false
      while (!eof) {
        if (pos + 2 > p.length) return None
        val b1 = p(pos) & 0xff; val b2 = p(pos + 1) & 0xff
        pos += 2
        if (b1 > 0) { // encoded run: b1 copies of index b2
          var k = 0
          while (k < b1) {
            if (x < w && yBot < h) idx((h - 1 - yBot) * w + x) = b2.toByte
            x += 1; k += 1
          }
        } else b2 match {
          case 0 => x = 0; yBot += 1                      // end of line
          case 1 => eof = true                            // end of bitmap
          case 2 =>                                       // delta jump
            if (pos + 2 > p.length) return None
            x += p(pos) & 0xff; yBot += p(pos + 1) & 0xff
            pos += 2
          case n =>                                       // absolute mode
            if (pos + n + (n & 1) > p.length) return None
            var k = 0
            while (k < n) {
              if (x < w && yBot < h) idx((h - 1 - yBot) * w + x) = p(pos + k)
              x += 1; k += 1
            }
            pos += n + (n & 1) // literals are word-aligned
        }
      }
    }
    // color-table map (file order BGRX → interleaved RGB)
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val e = idx(i) & 0xff
      if (e >= nColors) return None
      val s = tbl + 4 * e
      out(i * 3) = p(s + 2); out(i * 3 + 1) = p(s + 1); out(i * 3 + 2) = p(s)
      i += 1
    }
    Some(PixelImage(w, h, 3, out))
  }

  /** 4-bpp BMP (round 9): color-table lookup → RGB; BI_RGB (packed
    * nibbles, high nibble first, padded stride) or BI_RLE4 (compression
    * 2 — encoded runs alternate the value byte's two nibbles; absolute
    * mode packs nibbles and word-aligns; EOL/delta/EOF escapes as RLE8;
    * delta-skipped pixels stay index 0). */
  private def decodeBmp4(p: Array[Byte], w: Int, h: Int, topDown: Boolean,
                         compression: Int, dataOff: Int): Option[PixelImage] = {
    if (compression != 0 && compression != 2) return None
    if (compression == 2 && topDown) return None // RLE is bottom-up only
    val hdrSize = le32(p, 14)
    val clrUsed = le32(p, 46)
    val nColors = if (clrUsed == 0) 16 else clrUsed
    val tbl = 14 + hdrSize
    if (nColors < 1 || nColors > 16 ||
        tbl.toLong + 4L * nColors > p.length) return None
    val idx = new Array[Byte](w * h)
    if (compression == 0) {
      val stride = ((w + 1) / 2 + 3) & ~3
      if (dataOff.toLong + stride.toLong * h > p.length) return None
      var y = 0
      while (y < h) {
        val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val b = p(srcRow + (x >> 1)) & 0xff
          idx(y * w + x) = (if ((x & 1) == 0) b >> 4 else b & 0x0f).toByte
          x += 1
        }
        y += 1
      }
    } else {
      var pos = dataOff
      var x = 0
      var yBot = 0
      var eof = false
      while (!eof) {
        if (pos + 2 > p.length) return None
        val b1 = p(pos) & 0xff; val b2 = p(pos + 1) & 0xff
        pos += 2
        if (b1 > 0) { // encoded run: b1 pixels alternating b2's nibbles
          var k = 0
          while (k < b1) {
            val v = if ((k & 1) == 0) b2 >> 4 else b2 & 0x0f
            if (x < w && yBot < h) idx((h - 1 - yBot) * w + x) = v.toByte
            x += 1; k += 1
          }
        } else b2 match {
          case 0 => x = 0; yBot += 1                      // end of line
          case 1 => eof = true                            // end of bitmap
          case 2 =>                                       // delta jump
            if (pos + 2 > p.length) return None
            x += p(pos) & 0xff; yBot += p(pos + 1) & 0xff
            pos += 2
          case n =>                                       // absolute mode
            val nb = ((n + 1) / 2 + 1) & ~1 // packed nibbles, word-aligned
            if (pos + nb > p.length) return None
            var k = 0
            while (k < n) {
              val b = p(pos + (k >> 1)) & 0xff
              val v = if ((k & 1) == 0) b >> 4 else b & 0x0f
              if (x < w && yBot < h) idx((h - 1 - yBot) * w + x) = v.toByte
              x += 1; k += 1
            }
            pos += nb
        }
      }
    }
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val e = idx(i) & 0xff
      if (e >= nColors) return None
      val s = tbl + 4 * e
      out(i * 3) = p(s + 2); out(i * 3 + 1) = p(s + 1); out(i * 3 + 2) = p(s)
      i += 1
    }
    Some(PixelImage(w, h, 3, out))
  }

  /** 16/32-bpp BMP with bit-field channel masks (round 9). BI_BITFIELDS
    * (compression 3) reads the R/G/B masks at bytes 54-65 — the same
    * absolute offsets whether they follow a 40-byte BITMAPINFOHEADER or
    * sit inside a V2+/V4/V5 header extension — plus an alpha mask at 66
    * when the header carries one (size ≥ 56); 16-bpp BI_RGB uses the
    * default 5-5-5 masks. Each field scales to 8 bits by the exact
    * integer map `v * 255 / maxval` (floor), the same arithmetic the
    * fixture generator's independent implementation pins. */
  private def decodeBmpBitfields(p: Array[Byte], w: Int, h: Int,
                                 topDown: Boolean, bpp: Int,
                                 readMasks: Boolean,
                                 dataOff: Int): Option[PixelImage] = {
    val hdrSize = le32(p, 14)
    val (rm, gm, bm, am) =
      if (!readMasks) (0x7C00, 0x03E0, 0x001F, 0)
      else {
        if (p.length < 66) return None
        val a = if (hdrSize >= 56 && p.length >= 70) le32(p, 66) else 0
        (le32(p, 54), le32(p, 58), le32(p, 62), a)
      }
    if (rm == 0 || gm == 0 || bm == 0) return None
    if ((rm & gm) != 0 || (rm & bm) != 0 || (gm & bm) != 0 ||
        ((rm | gm | bm) & am) != 0) return None
    val masks = if (am != 0) Array(rm, gm, bm, am) else Array(rm, gm, bm)
    val shifts = masks.map(java.lang.Integer.numberOfTrailingZeros)
    val maxes = masks.indices.map(i => masks(i) >>> shifts(i)).toArray
    if (maxes.exists(m => m < 1 || m > 255)) return None // fields ≤ 8 bits
    val nch = masks.length
    val bytesPP = bpp / 8
    val stride = (w * bytesPP + 3) & ~3
    if (dataOff.toLong + stride.toLong * h > p.length) return None
    val out = new Array[Byte](w * h * nch)
    var y = 0
    while (y < h) {
      val srcRow = dataOff + (if (topDown) y else h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val rawV =
          if (bpp == 16) le16(p, srcRow + x * 2)
          else le32(p, srcRow + x * 4)
        val d = (y * w + x) * nch
        var c = 0
        while (c < nch) {
          val v = (rawV & masks(c)) >>> shifts(c)
          out(d + c) = (v * 255 / maxes(c)).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Some(PixelImage(w, h, nch, out))
  }

  /** REAL PNG encoder (r9) — the write-back half of the multimodal
    * pipeline (decode → transform → re-encode): bit depth 8, filter 0 on
    * every scanline, channels 1/2/3/4 → color types 0/4/2/6, and the
    * zlib stream as STORED (uncompressed) deflate blocks. Stored blocks
    * make the output BYTE-DETERMINISTIC — no dependence on any zlib
    * implementation's compression choices — so the encoded LENGTH is the
    * closed form 63 + n_raw + 5·⌈n_raw/65535⌉ (n_raw = h·(1+w·c)) that
    * the q_media_reencode oracle replays arithmetically, and
    * `decodePixels(encodePng(img)) == img` exactly (pinned in
    * MultimodalSpec). CRC32/Adler32 from java.util.zip (spec-fixed
    * polynomials, not codec behavior). */
  def encodePng(img: PixelImage): Array[Byte] = {
    val c = img.channels
    val colorType = c match {
      case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
      case _ => throw new IllegalArgumentException(s"channels $c")
    }
    val (w, h) = (img.width, img.height)
    val stride = w * c
    val raw = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      // raw(y * (1 + stride)) is already 0 — filter type None
      System.arraycopy(img.pixels, y * stride, raw, y * (1 + stride) + 1, stride)
      y += 1
    }
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01) // zlib header, no preset dict
    var p = 0
    while (p < raw.length) {
      val len = math.min(65535, raw.length - p)
      z.write(if (p + len >= raw.length) 1 else 0) // BFINAL, BTYPE=00
      z.write(len & 0xff); z.write((len >>> 8) & 0xff)
      z.write(~len & 0xff); z.write((~len >>> 8) & 0xff)
      z.write(raw, p, len)
      p += len
    }
    val ad = new java.util.zip.Adler32()
    ad.update(raw)
    val a = ad.getValue
    z.write(((a >>> 24) & 0xff).toInt); z.write(((a >>> 16) & 0xff).toInt)
    z.write(((a >>> 8) & 0xff).toInt); z.write((a & 0xff).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte), 0, 8)
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(tag: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length.toLong), 0, 4)
      val tb = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      out.write(be32(crc.getValue), 0, 4)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte).put(colorType.toByte)
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array())
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }

  /** Per-payload re-encode profile: decode → [[encodePng]] → decode the
    * engine's own output → statistics of the ROUND-TRIPPED raster, plus
    * the encoded byte length. A filter, layout, chunk-CRC or zlib-framing
    * bug in the encoder surfaces as a decode failure or a luma drift —
    * both break the oracle hash. */
  case class ReencodeStats(doc_id: Long, width: Int, height: Int,
                           channels: Int, png_len: Long, luma_sum: Long,
                           n_pixels: Int)

  def reencodeStatsAll(media: Dataset[MediaRecord]): Dataset[ReencodeStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodePixels(r.payload).flatMap { img =>
        val enc = encodePng(img)
        decodePixels(enc).map { back =>
          val st = rasterStats(r.doc_id, back)
          ReencodeStats(r.doc_id, st.width, st.height, st.channels,
            enc.length.toLong, st.luma_sum, st.n_pixels)
        }
      }
    })
  }

  /** REAL nearest-neighbor resample over a decoded raster: source pixel =
    * `(dst * srcDim) / dstDim` (floor) — exact integer arithmetic, so the
    * oracle's independent Python implementation reproduces it bit-for-bit.
    * Deterministic, channel-preserving; None for degenerate targets. */
  def resizePixels(img: PixelImage, tw: Int, th: Int): Option[PixelImage] = {
    if (tw <= 0 || th <= 0) return None
    val out = new Array[Byte](tw * th * img.channels)
    var y = 0
    while (y < th) {
      val sy = y * img.height / th
      var x = 0
      while (x < tw) {
        val sx = x * img.width / tw
        val s = (sy * img.width + sx) * img.channels
        val d = (y * tw + x) * img.channels
        var c = 0
        while (c < img.channels) { out(d + c) = img.pixels(s + c); c += 1 }
        x += 1
      }
      y += 1
    }
    Some(PixelImage(tw, th, img.channels, out))
  }

  /** Integer luminance of pixel `i` (same arithmetic the oracle replays):
    * grey formats take the grey sample; color formats the BT.601 integer
    * approximation (299R+587G+114B)/1000 with integer division. */
  def luma(img: PixelImage, i: Int): Int = {
    val o = i * img.channels
    if (img.channels <= 2) img.pixels(o) & 0xff
    else (299 * (img.pixels(o) & 0xff) + 587 * (img.pixels(o + 1) & 0xff) +
      114 * (img.pixels(o + 2) & 0xff)) / 1000
  }

  /** REAL feature for decoded payloads: the 8-bin luminance histogram as
    * pixel fractions (bin = luma >> 5) — [[FeatureDim]] dims, exact integer
    * counts divided once, so both engines reproduce it bit-for-bit. */
  def histFeature(img: PixelImage): Array[Double] = {
    val counts = new Array[Long](FeatureDim)
    val n = img.width * img.height
    var i = 0
    while (i < n) { counts(luma(img, i) >> 5) += 1; i += 1 }
    counts.map(_.toDouble / n)
  }

  /** Feature extraction with the round-6 contract: REAL statistic (the
    * luminance histogram) for payloads that decode; stub otherwise. */
  def feature(r: MediaRecord): MediaFeature =
    decodePixels(r.payload) match {
      case Some(img) => MediaFeature(r.doc_id, histFeature(img))
      case None => featureStub(r)
    }

  /** STUB frame sampling: split the payload into `n` equal-length frames
    * (remainder bytes dropped; n ≤ 0 or payload shorter than n → empty) —
    * stands in for video frame extraction. */
  def frameSampleStub(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (n <= 0) return Seq.empty
    val frameLen = payload.length / n
    if (frameLen == 0) Seq.empty
    else (0 until n).map(i => payload.slice(i * frameLen, (i + 1) * frameLen))
  }

  /** Wrap the documents table as a media table: payload = UTF-8 bytes of the
    * text (the testdata has no true binary table; the plumbing downstream is
    * payload-agnostic), media_type routed from the source column. */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // null text → null payload → executor NPE in the stubs; drop such rows
    // here (the engine's null contract — the q_media_* oracles mirror this
    // with WHERE text IS NOT NULL)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        concat(lit("img/"), col("source")).as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Partition-batched decode: one iterator per partition (vectorized-UDF
    * shape). Payloads never leave executors. Real header parse with stub
    * fallback — see [[decode]]. */
  def decodeAll(media: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decode))
  }

  /** Partition-batched feature extraction: REAL luminance-histogram
    * features for payloads that pixel-decode, stub fallback otherwise. */
  def featuresAll(media: Dataset[MediaRecord]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(feature))
  }

  /** The committed binary image fixtures (tools/make_fixtures.py writes
    * them + the expected statistics; MultimodalSpec and the q_media_pixels
    * oracle pin both). doc_id = −(position+1) — the negative range can
    * never collide with documents at any scale factor. */
  val FixtureNames: Seq[String] = Seq(
    "png_grey.png", "png_rgb.png", "png_greya.png", "png_rgba.png",
    "bmp24.bmp", "bmp32.bmp", "bmp24_topdown.bmp",
    "png_pal8.png", "png_pal4.png", "png_grey16.png", "png_rgb16.png",
    "bmp_pal8.bmp", "bmp_rle8.bmp",
    // round 9: baseline JPEG (tools/make_jpeg_fixtures.py — encoder +
    // independent integer-IDCT decoder twin pin the expected statistics)
    "jpeg_grey.jpg", "jpeg_444.jpg", "jpeg_420.jpg", "jpeg_rst.jpg",
    // round 9b: Adam7 PNG, 4-bpp/RLE4 BMP, BI_BITFIELDS (make_fixtures.py
    // FIXTURES2, doc_ids -18..-24)
    "png_adam7_rgb.png", "png_adam7_pal4.png", "png_adam7_grey16.png",
    "bmp_pal4.bmp", "bmp_rle4.bmp", "bmp16_565.bmp", "bmp32_bf.bmp",
    // round 9b: progressive JPEG (doc_ids -25..-27) — each decodes
    // pixel-identical to its baseline twin by construction
    "jpeg_prog_grey.jpg", "jpeg_prog444.jpg", "jpeg_prog420.jpg")

  /** The fixture catalog as a media table: a CONSTANT-size frame (7 rows,
    * ~1 KB total, independent of scale factor) loaded from classpath
    * resources — cwd-independent, so the registered queries see the same
    * bytes under any driver. */
  def fixtureMedia(spark: SparkSession): Dataset[MediaRecord] =
    fixtureCatalog(spark, FixtureNames, 0, "img/fixture")

  /** Per-payload decoded-raster profile. */
  case class PixelStats(doc_id: Long, width: Int, height: Int, channels: Int,
                        luma_sum: Long, n_pixels: Int, feature: Array[Double])

  private def rasterStats(docId: Long, img: PixelImage): PixelStats = {
    val n = img.width * img.height
    var s = 0L
    var i = 0
    while (i < n) { s += luma(img, i); i += 1 }
    PixelStats(docId, img.width, img.height, img.channels, s, n,
      histFeature(img))
  }

  /** Partition-batched pixel decode → raster statistics; payloads that do
    * not decode are dropped (the caller's contract — q_media_pixels runs
    * on the fixture catalog, where every payload decodes). */
  def pixelStatsAll(media: Dataset[MediaRecord]): Dataset[PixelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(r =>
      decodePixels(r.payload).map(rasterStats(r.doc_id, _))))
  }

  /** Partition-batched decode → REAL nearest-neighbor resize → raster
    * statistics of the RESIZED image; payloads that do not decode are
    * dropped. The resample itself stays on executors — only the per-doc
    * statistics row comes back. */
  def resizeStatsAll(media: Dataset[MediaRecord], tw: Int,
                     th: Int): Dataset[PixelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(r =>
      decodePixels(r.payload).flatMap(resizePixels(_, tw, th))
        .map(rasterStats(r.doc_id, _))))
  }

  /** Per-payload frame-sampling profile. */
  case class FrameInfo(doc_id: Long, n_frames: Int, frame_len: Int)

  /** Partition-batched frame sampling: REAL decoded frames for GIF
    * payloads (evenly-spaced selection over the actual animation, frame
    * byte length = the decoded RGB raster size), stub byte-split for
    * everything else — the sampled frames themselves stay on executors. */
  def framesAll(media: Dataset[MediaRecord], n: Int): Dataset[FrameInfo] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      sampleVideoFrames(r.payload, n) match {
        case Some(frames) =>
          val f0 = frames.head
          FrameInfo(r.doc_id, frames.length,
            f0.width * f0.height * f0.channels)
        case None =>
          val frames = frameSampleStub(r.payload, n)
          FrameInfo(r.doc_id, frames.length,
            frames.headOption.map(_.length).getOrElse(0))
      }
    })
  }

  // ==================== JPEG (baseline sequential DCT) ====================

  /** Fixed-point IDCT basis: `JpegCos(n)(k) = round(cos((2n+1)kπ/16)·2048
    * / (k==0 ? √2 : 1))` — the α(k) normalization folded in. Hardcoded (not
    * computed) so tools/make_jpeg_fixtures.py's independent Python decoder
    * uses the IDENTICAL integers: decode parity is exact integer equality,
    * never within-epsilon, and a cos()-rounding divergence between JVM and
    * CPython can't produce off-by-one pixels. */
  private val JpegCos: Array[Array[Int]] = Array(
    Array(1448, 2009, 1892, 1703, 1448, 1138, 784, 400),
    Array(1448, 1703, 784, -400, -1448, -2009, -1892, -1138),
    Array(1448, 1138, -784, -2009, -1448, 400, 1892, 1703),
    Array(1448, 400, -1892, -1138, 1448, 1703, -784, -2009),
    Array(1448, -400, -1892, 1138, 1448, -1703, -784, 2009),
    Array(1448, -1138, -784, 2009, -1448, -400, 1892, -1703),
    Array(1448, -1703, 784, 400, -1448, 2009, -1892, 1138),
    Array(1448, -2009, 1892, -1703, 1448, -1138, 784, -400))

  /** Zigzag scan order → natural (row-major) block position (JPEG §A.3.6). */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical Huffman table (JPEG Annex C): first-code/last-code per
    * length + value pointer — decode walks one bit at a time. */
  private final class JpegHuff(counts: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
    def decode(br: JpegBits): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        code = (code << 1) | br.bit()
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return vals(valPtr(l) + code - minCode(l)) & 0xff
        l += 1
      }
      throw new IllegalArgumentException("bad huffman code")
    }
  }

  /** MSB-first bit reader over entropy-coded segments with the 0xFF00
    * byte-stuffing rule; any other marker mid-data is malformed (restart
    * markers are consumed explicitly by [[decodeJpeg]]'s MCU loop). */
  private final class JpegBits(p: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= p.length) throw new IllegalArgumentException("eof")
        var b = p(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= p.length) throw new IllegalArgumentException("eof")
          val m = p(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed literal 0xFF
          else throw new IllegalArgumentException("marker in entropy data")
          b = 0xff
        }
        cur = b; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align and consume the expected RSTn marker. */
    def restart(n: Int): Unit = {
      nbits = 0
      if (pos + 2 > p.length || (p(pos) & 0xff) != 0xff ||
          (p(pos + 1) & 0xff) != (0xd0 + n))
        throw new IllegalArgumentException("missing restart marker")
      pos += 2
    }
  }

  /** JPEG §F.2.2.1 EXTEND: map a RECEIVE'd magnitude to its signed value. */
  private def jpegExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private case class JpegComp(id: Int, h: Int, v: Int, tq: Int,
                              var dcTbl: Int = 0, var acTbl: Int = 0)

  /** REAL baseline JPEG decode (ITU-T T.81 baseline sequential DCT, the
    * overwhelmingly dominant JPEG variant in web corpora) — pure JVM, no
    * codec library:
    *
    *  - marker walk: DQT (8- and 16-bit tables), DHT (canonical Annex-C
    *    Huffman), SOF0/SOF1 (8-bit precision, 1 or 3 components, sampling
    *    factors 1–2 → 4:4:4 / 4:2:2 / 4:2:0), DRI + RSTn restart
    *    intervals, APPn/COM skipped;
    *  - entropy decode per MCU: DC prediction + EXTEND, AC run/size with
    *    ZRL and EOB, dequantization through the zigzag map;
    *  - fixed-point integer IDCT ([[JpegCos]], descale `(Σ + 2²³) >> 24`
    *    then +128) — bit-reproducible on any platform and replayed
    *    integer-for-integer by the Python twin that pins the fixtures;
    *  - chroma upsampling by sample replication (`x·h/hmax` floor — the
    *    same mapping [[resizePixels]] uses), integer YCbCr→RGB
    *    (libjpeg's 16-bit fixed-point constants).
    *
    * Progressive (SOF2), arithmetic coding, 12-bit precision, and sampling
    * factors > 2 return None — the caller keeps the stub fallback, so an
    * exotic payload can never kill a 100-TB pass. */
  def decodeJpeg(p: Array[Byte]): Option[PixelImage] = try {
    if (p.length < 4 || (p(0) & 0xff) != 0xff || (p(1) & 0xff) != 0xd8)
      return None
    val qt = new Array[Array[Int]](4)
    val dcH = new Array[JpegHuff](4)
    val acH = new Array[JpegHuff](4)
    var comps: Array[JpegComp] = null
    var width = 0; var height = 0
    var dri = 0
    var pos = 2
    var scanAt = -1
    while (scanAt < 0) {
      if (pos + 4 > p.length) return None
      if ((p(pos) & 0xff) != 0xff) return None
      val m = p(pos + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { pos += 2 }
      else {
        val len = ((p(pos + 2) & 0xff) << 8) | (p(pos + 3) & 0xff)
        val body = pos + 4
        if (len < 2 || body + len - 2 > p.length) return None
        m match {
          case 0xdb => // DQT: one or more (Pq<<4|Tq, 64 entries) tables
            var o = body
            while (o < body + len - 2) {
              val pq = (p(o) & 0xff) >> 4; val tq = p(o) & 0x0f
              if (tq > 3 || pq > 1) return None
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(JpegZigzag(i)) =
                  if (pq == 0) p(o + 1 + i) & 0xff
                  else ((p(o + 1 + 2 * i) & 0xff) << 8) | (p(o + 2 + 2 * i) & 0xff)
                i += 1
              }
              qt(tq) = t
              o += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xc4 => // DHT: one or more (Tc<<4|Th, counts[16], vals) tables
            var o = body
            while (o < body + len - 2) {
              val tc = (p(o) & 0xff) >> 4; val th = p(o) & 0x0f
              if (tc > 1 || th > 3) return None
              val counts = Array.tabulate(16)(i => p(o + 1 + i) & 0xff)
              val n = counts.sum
              val vals = java.util.Arrays.copyOfRange(p, o + 17, o + 17 + n)
              val huff = new JpegHuff(counts, vals)
              if (tc == 0) dcH(th) = huff else acH(th) = huff
              o += 17 + n
            }
          case 0xc0 | 0xc1 => // SOF0/1: baseline / extended sequential
            if ((p(body) & 0xff) != 8) return None // 8-bit precision only
            height = ((p(body + 1) & 0xff) << 8) | (p(body + 2) & 0xff)
            width = ((p(body + 3) & 0xff) << 8) | (p(body + 4) & 0xff)
            val nc = p(body + 5) & 0xff
            if (width <= 0 || height <= 0 || (nc != 1 && nc != 3)) return None
            comps = Array.tabulate(nc) { i =>
              val o = body + 6 + 3 * i
              val c = JpegComp(p(o) & 0xff, (p(o + 1) & 0xff) >> 4,
                p(o + 1) & 0x0f, p(o + 2) & 0xff)
              if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3)
                return None
              c
            }
          case 0xc2 =>
            return decodeJpegProgressive(p) // progressive (Huffman)
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
               0xcd | 0xce | 0xcf =>
            return None // hierarchical / arithmetic / lossless
          case 0xdd => // DRI
            dri = ((p(body) & 0xff) << 8) | (p(body + 1) & 0xff)
          case 0xda => // SOS: bind huffman tables per scan component
            if (comps == null) return None
            val ns = p(body) & 0xff
            if (ns != comps.length) return None // single interleaved scan
            var i = 0
            while (i < ns) {
              val cid = p(body + 1 + 2 * i) & 0xff
              val tt = p(body + 2 + 2 * i) & 0xff
              val c = comps.find(_.id == cid).getOrElse(return None)
              c.dcTbl = tt >> 4; c.acTbl = tt & 0x0f
              i += 1
            }
            scanAt = body + 1 + 2 * ns + 3 // skip Ss/Se/AhAl
          case _ => () // APPn / COM / anything skippable
        }
        if (scanAt < 0) pos = body + len - 2
      }
    }
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val mcuW = 8 * hmax; val mcuH = 8 * vmax
    val mcusX = (width + mcuW - 1) / mcuW
    val mcusY = (height + mcuH - 1) / mcuH
    // per-component plane at its own resolution, MCU-padded
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i =>
      new Array[Byte](planeW(i) * planeH(i))).toArray
    comps.foreach(c => if (qt(c.tq) == null) return None)
    comps.foreach(c =>
      if (dcH(c.dcTbl) == null || acH(c.acTbl) == null) return None)
    val br = new JpegBits(p, scanAt)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    var mcu = 0
    var rstN = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        br.restart(rstN)
        rstN = (rstN + 1) & 7
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            val t = dcH(c.dcTbl).decode(br)
            if (t > 11) throw new IllegalArgumentException("dc size")
            pred(ci) += jpegExtend(br.receive(t), t)
            coef(0) = pred(ci) * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = acH(c.acTbl).decode(br)
              val r = rs >> 4; val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else eob = true
              } else {
                k += r
                if (k > 63) throw new IllegalArgumentException("ac overrun")
                val z = JpegZigzag(k)
                coef(z) = jpegExtend(br.receive(s), s) * q(z)
                k += 1
              }
            }
            // fixed-point IDCT + level shift into the component plane
            jpegIdctBlock(coef, planes(ci), planeW(ci),
              (mx * c.h + bx) * 8, (my * c.v + by) * 8)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    Some(jpegAssemble(comps, planes, planeW, width, height, hmax, vmax))
  } catch { case _: Exception => None }

  /** REAL progressive JPEG decode (ITU-T T.81 Annex G, Huffman — round 9b,
    * closing the last JPEG stub): a multi-scan marker walk accumulates RAW
    * (still-quantized) coefficients per component, then dequantizes and
    * IDCTs once at EOI.
    *
    *  - DC scans (interleaved or single-component): first pass codes
    *    arithmetic-shifted predictions (`dc >> Al`), refinement passes one
    *    raw bit per block OR-ed at bit Al;
    *  - AC first scans (spectral band Ss..Se, always single-component):
    *    run/size coding with EOB-run symbols (EOBn = n extension bits);
    *  - AC refinement: newly-nonzero coefficients arrive as ±(1<<Al) with
    *    a sign bit, history coefficients consume positional correction
    *    bits (libjpeg jdphuff shape), EOB runs carry correction bits for
    *    every remaining nonzero in the band;
    *  - non-interleaved scans walk the component's OWN ceil(dim/8) block
    *    grid, not the MCU-padded interleaved grid — the classic
    *    progressive-geometry trap at 4:2:0;
    *  - DHT/DQT/DRI may be redefined between scans; restart markers reset
    *    DC predictions AND the EOB run.
    *
    * Memory: one Int per coefficient (~4 B/sample) per payload, bounded and
    * partition-local — the decode stays a per-row mapPartitions operation
    * at corpus scale. Malformed streams throw → None (stub fallback). */
  private def decodeJpegProgressive(p: Array[Byte]): Option[PixelImage] = try {
    val qt = new Array[Array[Int]](4)
    val dcH = new Array[JpegHuff](4)
    val acH = new Array[JpegHuff](4)
    var comps: Array[JpegComp] = null
    var coef: Array[Array[Int]] = null // per comp: nBlocks*64 raw coefs
    var width = 0; var height = 0
    var dri = 0
    var mcusX = 0; var mcusY = 0
    var hmax = 0; var vmax = 0
    var bwFull: Array[Int] = null; var bhFull: Array[Int] = null
    var bwNI: Array[Int] = null; var bhNI: Array[Int] = null

    def decodeScan(scomps: Array[Int], ss: Int, se: Int, ah: Int, al: Int,
                   dataAt: Int): Int = {
      require(al <= 13 && ah <= 13, "bad successive approximation")
      if (ss == 0) require(se == 0, "DC scan must have Se=0")
      else require(scomps.length == 1 && se >= ss && se <= 63, "bad AC band")
      scomps.foreach { ci =>
        val c = comps(ci)
        if (ss == 0 && ah == 0) require(dcH(c.dcTbl) != null, "missing DC tbl")
        if (ss > 0) require(acH(c.acTbl) != null, "missing AC tbl")
      }
      val br = new JpegBits(p, dataAt)
      val preds = new Array[Int](comps.length)
      var eobrun = 0
      var rst = 0
      val interleaved = scomps.length > 1

      def decodeDc(ci: Int, bix: Int): Unit = {
        val blk = coef(ci); val base = bix * 64
        if (ah == 0) {
          val t = dcH(comps(ci).dcTbl).decode(br)
          if (t > 15) throw new IllegalArgumentException("dc size")
          preds(ci) += jpegExtend(br.receive(t), t)
          blk(base) = preds(ci) << al
        } else if (br.bit() == 1) blk(base) |= 1 << al
      }

      def decodeAc(ci: Int, bix: Int): Unit = {
        val blk = coef(ci); val base = bix * 64
        val ac = acH(comps(ci).acTbl)
        if (ah == 0) { // first pass for this band
          if (eobrun > 0) { eobrun -= 1; return }
          var k = ss
          while (k <= se) {
            val rs = ac.decode(br)
            val r = rs >> 4; val s = rs & 0x0f
            if (s == 0) {
              if (r == 15) k += 16 // ZRL
              else {
                eobrun = (1 << r) - 1
                if (r > 0) eobrun += br.receive(r)
                return
              }
            } else {
              k += r
              if (k > se) throw new IllegalArgumentException("ac overrun")
              blk(base + JpegZigzag(k)) = jpegExtend(br.receive(s), s) << al
              k += 1
            }
          }
        } else { // refinement
          val p1 = 1 << al; val m1 = -(1 << al)
          var k = ss
          if (eobrun == 0) {
            var break = false
            while (k <= se && !break) {
              val rs = ac.decode(br)
              var r = rs >> 4; val s = rs & 0x0f
              var newval = 0
              if (s != 0) {
                if (s != 1) throw new IllegalArgumentException("refine size")
                newval = if (br.bit() == 1) p1 else m1
              } else if (r != 15) {
                eobrun = 1 << r
                if (r > 0) eobrun += br.receive(r)
                break = true
              }
              if (!break) {
                // advance over r zero-history coefs, correcting nonzero
                // -history coefs passed over
                var inner = true
                while (k <= se && inner) {
                  val z = base + JpegZigzag(k)
                  if (blk(z) != 0) {
                    if (br.bit() == 1 && (blk(z) & p1) == 0)
                      blk(z) += (if (blk(z) >= 0) p1 else m1)
                    k += 1
                  } else {
                    r -= 1
                    if (r < 0) inner = false else k += 1
                  }
                }
                if (newval != 0) {
                  if (k > se) throw new IllegalArgumentException("refine pos")
                  blk(base + JpegZigzag(k)) = newval
                }
                k += 1
              }
            }
          }
          if (eobrun > 0) {
            while (k <= se) { // correction bits through the band remainder
              val z = base + JpegZigzag(k)
              if (blk(z) != 0) {
                if (br.bit() == 1 && (blk(z) & p1) == 0)
                  blk(z) += (if (blk(z) >= 0) p1 else m1)
              }
              k += 1
            }
            eobrun -= 1
          }
        }
      }

      val nUnits =
        if (interleaved) mcusX * mcusY
        else bwNI(scomps(0)) * bhNI(scomps(0))
      var unit = 0
      while (unit < nUnits) {
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          br.restart(rst); rst = (rst + 1) & 7
          java.util.Arrays.fill(preds, 0); eobrun = 0
        }
        if (interleaved) { // DC scans only (validated above: Ss=0)
          val mx = unit % mcusX; val my = unit / mcusX
          var si = 0
          while (si < scomps.length) {
            val ci = scomps(si); val c = comps(ci)
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                decodeDc(ci, (my * c.v + by) * bwFull(ci) + mx * c.h + bx)
                bx += 1
              }
              by += 1
            }
            si += 1
          }
        } else {
          val ci = scomps(0)
          val bix = (unit / bwNI(ci)) * bwFull(ci) + unit % bwNI(ci)
          if (ss == 0) decodeDc(ci, bix) else decodeAc(ci, bix)
        }
        unit += 1
      }
      // realign: abandon any partial byte, find the next marker
      var q = br.pos
      while (q + 1 < p.length &&
          !((p(q) & 0xff) == 0xff && (p(q + 1) & 0xff) != 0x00)) q += 1
      q
    }

    var pos = 2
    var eoi = false
    while (!eoi) {
      if (pos + 2 > p.length) return None
      if ((p(pos) & 0xff) != 0xff) return None
      val m = p(pos + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { pos += 2 }
      else if (m == 0xd9) { eoi = true }
      else {
        if (pos + 4 > p.length) return None
        val len = ((p(pos + 2) & 0xff) << 8) | (p(pos + 3) & 0xff)
        val body = pos + 4
        if (len < 2 || body + len - 2 > p.length) return None
        var sosAt = -1
        m match {
          case 0xdb => // DQT (tables may arrive/refresh between scans)
            var o = body
            while (o < body + len - 2) {
              val pq = (p(o) & 0xff) >> 4; val tq = p(o) & 0x0f
              if (tq > 3 || pq > 1) return None
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(JpegZigzag(i)) =
                  if (pq == 0) p(o + 1 + i) & 0xff
                  else ((p(o + 1 + 2 * i) & 0xff) << 8) | (p(o + 2 + 2 * i) & 0xff)
                i += 1
              }
              qt(tq) = t
              o += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xc4 => // DHT
            var o = body
            while (o < body + len - 2) {
              val tc = (p(o) & 0xff) >> 4; val th = p(o) & 0x0f
              if (tc > 1 || th > 3) return None
              val counts = Array.tabulate(16)(i => p(o + 1 + i) & 0xff)
              val n = counts.sum
              val vals = java.util.Arrays.copyOfRange(p, o + 17, o + 17 + n)
              val huff = new JpegHuff(counts, vals)
              if (tc == 0) dcH(th) = huff else acH(th) = huff
              o += 17 + n
            }
          case 0xc2 => // SOF2
            if (comps != null) return None
            if ((p(body) & 0xff) != 8) return None
            height = ((p(body + 1) & 0xff) << 8) | (p(body + 2) & 0xff)
            width = ((p(body + 3) & 0xff) << 8) | (p(body + 4) & 0xff)
            val nc = p(body + 5) & 0xff
            if (width <= 0 || height <= 0 || (nc != 1 && nc != 3)) return None
            comps = Array.tabulate(nc) { i =>
              val o = body + 6 + 3 * i
              val c = JpegComp(p(o) & 0xff, (p(o + 1) & 0xff) >> 4,
                p(o + 1) & 0x0f, p(o + 2) & 0xff)
              if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3)
                return None
              c
            }
            hmax = comps.map(_.h).max; vmax = comps.map(_.v).max
            mcusX = (width + 8 * hmax - 1) / (8 * hmax)
            mcusY = (height + 8 * vmax - 1) / (8 * vmax)
            bwFull = comps.map(c => mcusX * c.h)
            bhFull = comps.map(c => mcusY * c.v)
            bwNI = comps.map(c => ((width * c.h + hmax - 1) / hmax + 7) / 8)
            bhNI = comps.map(c => ((height * c.v + vmax - 1) / vmax + 7) / 8)
            coef = comps.indices.map(i =>
              new Array[Int](bwFull(i) * bhFull(i) * 64)).toArray
          case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
               0xcb | 0xcd | 0xce | 0xcf =>
            return None // a second, different SOF is malformed
          case 0xdd => dri = ((p(body) & 0xff) << 8) | (p(body + 1) & 0xff)
          case 0xda =>
            if (comps == null) return None
            val ns = p(body) & 0xff
            if (ns < 1 || ns > comps.length) return None
            val scomps = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val cid = p(body + 1 + 2 * i) & 0xff
              val tt = p(body + 2 + 2 * i) & 0xff
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return None
              comps(ci).dcTbl = tt >> 4; comps(ci).acTbl = tt & 0x0f
              scomps(i) = ci
              i += 1
            }
            val ss = p(body + 1 + 2 * ns) & 0xff
            val se = p(body + 2 + 2 * ns) & 0xff
            val ahAl = p(body + 3 + 2 * ns) & 0xff
            sosAt = decodeScan(scomps, ss, se, ahAl >> 4, ahAl & 0x0f,
              body + 4 + 2 * ns)
          case _ => () // APPn / COM
        }
        pos = if (sosAt >= 0) sosAt else body + len - 2
      }
    }
    if (comps == null) return None
    comps.foreach(c => if (qt(c.tq) == null) return None)
    // dequantize + IDCT every block, then assemble as in the baseline path
    val planeW = comps.indices.map(i => bwFull(i) * 8)
    val planes = comps.indices.map(i =>
      new Array[Byte](bwFull(i) * 8 * bhFull(i) * 8)).toArray
    val dq = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val q = qt(comps(ci).tq)
      val blocks = coef(ci)
      val bw = bwFull(ci)
      var bix = 0
      while (bix < bw * bhFull(ci)) {
        var v = 0
        while (v < 64) { dq(v) = blocks(bix * 64 + v) * q(v); v += 1 }
        jpegIdctBlock(dq, planes(ci), bw * 8, (bix % bw) * 8, (bix / bw) * 8)
        bix += 1
      }
      ci += 1
    }
    Some(jpegAssemble(comps, planes, planeW, width, height, hmax, vmax))
  } catch { case _: Exception => None }

  /** Fixed-point IDCT of one dequantized 8×8 block (natural order) +128
    * level shift into the component plane at (px0, py0). */
  private def jpegIdctBlock(coef: Array[Int], plane: Array[Byte], pw: Int,
                            px0: Int, py0: Int): Unit = {
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        var sum = 0L
        var v = 0
        while (v < 64) {
          val f = coef(v)
          if (f != 0)
            sum += f.toLong * JpegCos(xx)(v & 7) * JpegCos(yy)(v >> 3)
          v += 1
        }
        val s = (((sum + (1L << 23)) >> 24) + 128).toInt
        plane((py0 + yy) * pw + px0 + xx) =
          (if (s < 0) 0 else if (s > 255) 255 else s).toByte
        xx += 1
      }
      yy += 1
    }
  }

  /** Assemble decoded component planes: replication upsample + integer
    * YCbCr→RGB (libjpeg fixed-point constants), or plane copy for grey. */
  private def jpegAssemble(comps: Array[JpegComp], planes: Array[Array[Byte]],
                           planeW: Seq[Int], width: Int, height: Int,
                           hmax: Int, vmax: Int): PixelImage = {
    if (comps.length == 1) {
      val out = new Array[Byte](width * height)
      val pw = planeW(0)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * pw, out, y * width, width)
        y += 1
      }
      PixelImage(width, height, 1, out)
    } else {
      def clamp(v: Int): Byte =
        (if (v < 0) 0 else if (v > 255) 255 else v).toByte
      val out = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            val sx = x * c.h / hmax; val sy = y * c.v / vmax
            planes(ci)(sy * planeW(ci) + sx) & 0xff
          }
          val yv = sample(0)
          val cb = sample(1) - 128
          val cr = sample(2) - 128
          val d = (y * width + x) * 3
          out(d) = clamp(yv + ((91881 * cr + 32768) >> 16))
          out(d + 1) = clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16))
          out(d + 2) = clamp(yv + ((116130 * cb + 32768) >> 16))
          x += 1
        }
        y += 1
      }
      PixelImage(width, height, 3, out)
    }
  }

  // ======================= AUDIO (WAV / RIFF PCM) =======================

  /** A decoded PCM clip: samples channel-interleaved and centered at 0
    * (16-bit: the raw signed sample; 8-bit: unsigned byte − 128, the WAV
    * convention), normalization denominator implied by `bits`. */
  case class AudioClip(sampleRate: Int, channels: Int, bits: Int,
                       samples: Array[Int])

  /** REAL WAV decode (RIFF container, spec: Microsoft/IBM WAVE format) —
    * pure JVM, no codec library: walks RIFF chunks (honoring the
    * odd-size pad-byte rule), requires a PCM `fmt ` chunk (audioFormat 1,
    * 8 or 16 bits/sample) before `data`, and sign-extends 16-bit LE
    * samples / centers 8-bit unsigned ones. Returns None for anything
    * unrecognized, compressed, or truncated — callers keep a stub
    * fallback, so a corrupt payload can never kill a 100-TB pass. */
  def decodeWav(p: Array[Byte]): Option[AudioClip] = try {
    if (p.length < 44 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || p(8) != 'W' || p(9) != 'A' || p(10) != 'V' ||
        p(11) != 'E') return None
    var pos = 12
    var rate = 0; var ch = 0; var bits = 0; var haveFmt = false
    var samples: Array[Int] = null
    while (pos + 8 <= p.length && samples == null) {
      val a = p(pos).toChar; val b = p(pos + 1).toChar
      val c = p(pos + 2).toChar; val d = p(pos + 3).toChar
      val size = le32(p, pos + 4)
      val body = pos + 8
      if (size < 0 || body + size > p.length) return None
      if (a == 'f' && b == 'm' && c == 't' && d == ' ') {
        if (size < 16) return None
        val audioFormat = le16(p, body)
        ch = le16(p, body + 2)
        rate = le32(p, body + 4)
        bits = le16(p, body + 14)
        if (audioFormat != 1 || ch < 1 || rate <= 0 ||
            (bits != 8 && bits != 16)) return None
        haveFmt = true
      } else if (a == 'd' && b == 'a' && c == 't' && d == 'a') {
        if (!haveFmt) return None
        samples =
          if (bits == 16) Array.tabulate(size / 2)(i =>
            (le16(p, body + 2 * i) << 16) >> 16) // sign-extend
          else Array.tabulate(size)(i => (p(body + i) & 0xff) - 128)
      }
      pos = body + size + (size & 1) // RIFF chunks pad to even offsets
    }
    Option(samples).map(s => AudioClip(rate, ch, bits, s))
  } catch { case _: Exception => None }

  /** Per-clip audio profile (all integer-exact until the final divides,
    * so the oracle's independent Python implementation reproduces every
    * value bit-for-bit): rms/peak normalized by 2^(bits−1), zero_cross =
    * strict sign flips along channel 0. */
  case class AudioStats(doc_id: Long, sample_rate: Int, channels: Int,
                        bits: Int, n_frames: Int, duration_ms: Double,
                        rms: Double, peak: Double, zero_cross: Int)

  def audioStats(docId: Long, c: AudioClip): AudioStats = {
    val denom = if (c.bits == 16) 32768.0 else 128.0
    val n = c.samples.length
    var sumsq = 0L; var peakI = 0; var i = 0
    while (i < n) {
      val s = c.samples(i)
      sumsq += s.toLong * s
      val as = math.abs(s)
      if (as > peakI) peakI = as
      i += 1
    }
    var zc = 0; var j = c.channels
    while (j < n) {
      if (c.samples(j - c.channels).toLong * c.samples(j) < 0) zc += 1
      j += c.channels
    }
    val frames = n / c.channels
    AudioStats(docId, c.sampleRate, c.channels, c.bits, frames,
      frames * 1000.0 / c.sampleRate,
      math.sqrt(sumsq.toDouble / n) / denom, peakI / denom, zc)
  }

  /** Partition-batched audio decode → per-clip profile; payloads that do
    * not WAV-decode are dropped (the caller's contract — q_media_audio
    * runs on the fixture catalog, where every payload decodes). */
  def audioStatsAll(media: Dataset[MediaRecord]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(r =>
      decodeWav(r.payload).map(audioStats(r.doc_id, _))))
  }

  // ======================= VIDEO (animated GIF) =======================

  private def readPalette(p: Array[Byte], off: Int, n: Int): Array[Int] =
    Array.tabulate(n)(i => ((p(off + 3 * i) & 0xff) << 16) |
      ((p(off + 3 * i + 1) & 0xff) << 8) | (p(off + 3 * i + 2) & 0xff))

  /** GIF LZW decompression (spec: GIF89a appendix F; the giflib pairing):
    * LSB-first variable-width codes, clear/end codes, prefix/suffix
    * dictionary with the KwKwK case, and the decoder-side EARLY width
    * change (bump at next == 2^width − 1 — the decoder lags the encoder
    * by one dictionary entry, so it must anticipate by one to stay
    * bit-aligned). Returns exactly `maxOut` index bytes or None. */
  private def lzwDecode(data: Array[Byte], minCode: Int,
                        maxOut: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode
    val end = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](maxOut)
    var outPos = 0
    var width = minCode + 1
    var next = end + 1
    var prev = -1
    var bitPos = 0
    val nbits = data.length * 8

    // writes `code`'s sequence to out (forward order), returns first byte
    def writeSeq(code: Int): Int = {
      var sp = 0
      var c = code
      while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      stack(sp) = c.toByte; sp += 1
      val first = stack(sp - 1) & 0xff
      if (outPos + sp > maxOut) return -1
      var i = sp - 1
      while (i >= 0) { out(outPos) = stack(i); outPos += 1; i -= 1 }
      first
    }

    while (bitPos + width <= nbits) {
      var code = 0
      var j = 0
      while (j < width) {
        val b = bitPos + j
        code |= ((data(b >> 3) >> (b & 7)) & 1) << j
        j += 1
      }
      bitPos += width
      if (code == clear) { width = minCode + 1; next = end + 1; prev = -1 }
      else if (code == end) {
        return if (outPos == maxOut) Some(out) else None
      } else if (prev == -1) {
        if (code >= clear || outPos >= maxOut) return None
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        var first = 0
        if (code < next && code != end && code != clear) {
          first = writeSeq(code)
        } else if (code == next) { // KwKwK: seq(prev) + first(seq(prev))
          first = writeSeq(prev)
          if (first >= 0) {
            if (outPos >= maxOut) return None
            out(outPos) = first.toByte; outPos += 1
          }
        } else return None
        if (first < 0) return None
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = first.toByte
          next += 1
          if (next == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
      }
    }
    None // ran out of bits before the end code
  }

  /** REAL animated-GIF decode (spec: GIF87a/89a) — pure JVM: logical
    * screen descriptor + global color table, extension blocks skipped
    * (GCE/comment/application), per-frame image descriptor with optional
    * LOCAL color table, real LZW decompression of the index stream, and
    * palette lookup → an RGB [[PixelImage]] per frame (each frame
    * rendered standalone at its own dimensions; disposal/composition and
    * transparency are out of scope and documented so). Interlaced frames
    * are de-interlaced via the spec's four-pass row scatter (appendix E);
    * malformed streams return None — callers keep the stub fallback. */
  def decodeGifFrames(p: Array[Byte]): Option[IndexedSeq[PixelImage]] = try {
    if (p.length < 14 || p(0) != 'G' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != '8' || !(p(4) == '7' || p(4) == '9') || p(5) != 'a')
      return None
    var pos = 10 // skip header + canvas dims; frames carry their own
    val packed = p(pos) & 0xff
    pos += 3 // packed, background index, aspect
    var gct: Array[Int] = null
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 7) + 1)
      gct = readPalette(p, pos, n)
      pos += 3 * n
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[PixelImage]
    var done = false
    while (!done) {
      (p(pos) & 0xff) match {
        case 0x3b => done = true
        case 0x21 => // extension: label byte + sub-blocks
          pos += 2
          var n = p(pos) & 0xff
          while (n != 0) { pos += 1 + n; n = p(pos) & 0xff }
          pos += 1
        case 0x2c => // image descriptor
          val w = le16(p, pos + 5)
          val h = le16(p, pos + 7)
          val ip = p(pos + 9) & 0xff
          pos += 10
          val interlaced = (ip & 0x40) != 0
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 1 << ((ip & 7) + 1)
            pal = readPalette(p, pos, n)
            pos += 3 * n
          }
          if (pal == null || w <= 0 || h <= 0) return None
          val minCode = p(pos) & 0xff
          pos += 1
          val bb = new java.io.ByteArrayOutputStream()
          var n = p(pos) & 0xff; pos += 1
          while (n != 0) { bb.write(p, pos, n); pos += n; n = p(pos) & 0xff; pos += 1 }
          val seqIdx = lzwDecode(bb.toByteArray, minCode, w * h) match {
            case Some(a) => a
            case None => return None
          }
          // GIF89a appendix E: interlaced frames store rows in four
          // passes (rows 0,8,16…; 4,12…; 2,6…; 1,3,5…). De-interlace by
          // scattering each stored row to its display position.
          val idx =
            if (!interlaced) seqIdx
            else {
              val out2 = new Array[Byte](w * h)
              var sy = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var dy = start
                while (dy < h) {
                  System.arraycopy(seqIdx, sy * w, out2, dy * w, w)
                  sy += 1; dy += step
                }
              }
              out2
            }
          val out = new Array[Byte](w * h * 3)
          var i = 0
          while (i < w * h) {
            val k = idx(i) & 0xff
            if (k >= pal.length) return None // index outside palette
            val c = pal(k)
            out(i * 3) = (c >> 16).toByte
            out(i * 3 + 1) = (c >> 8).toByte
            out(i * 3 + 2) = c.toByte
            i += 1
          }
          buf += PixelImage(w, h, 3, out)
        case _ => return None
      }
    }
    if (buf.isEmpty) None else Some(buf.toIndexedSeq)
  } catch { case _: Exception => None }

  /** REAL Motion-JPEG-in-AVI decode (specs: Microsoft RIFF/AVI 1.0
    * container layout + ITU-T T.81 for the frame payloads) — pure JVM:
    * walks the RIFF chunk tree (`RIFF('AVI ' LIST('hdrl' …) LIST('movi'
    * …))`, word-aligned chunks), collects the video-data chunks inside
    * `movi` (fourcc `##dc`/`##db`, compressed/uncompressed DIB naming —
    * MJPEG payloads are JFIF streams either way; frames may also sit one
    * LIST('rec ') deeper, the interleave grouping the spec allows), and
    * hands each payload to the engine's own JPEG decoder ([[decodeJpeg]] /
    * [[decodeJpegProgressive]] via [[decodePixels]]). Headers (`avih`,
    * `strh`/`strf`) are validated for presence but frame geometry is
    * taken from each decoded JPEG — per the MJPEG convention every frame
    * is a standalone JFIF image. None on anything malformed. */
  def decodeAviFrames(p: Array[Byte]): Option[IndexedSeq[PixelImage]] = try {
    if (p.length < 24 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || p(8) != 'A' || p(9) != 'V' || p(10) != 'I' ||
        p(11) != ' ') return None
    val riffEnd = math.min(p.length, 8 + le32(p, 4))
    val buf = scala.collection.mutable.ArrayBuffer.empty[PixelImage]
    var sawHdrl = false

    def fourcc(i: Int): String =
      new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    // collect ##dc/##db frame chunks within [from, to); rec lists recurse
    def walkFrames(from: Int, to: Int): Boolean = { // false = malformed
      var pos = from
      while (pos + 8 <= to) {
        val fc = fourcc(pos)
        val sz = le32(p, pos + 4)
        if (sz < 0 || pos + 8 + sz > to) return false
        if (fc == "LIST" && sz >= 4 && fourcc(pos + 8) == "rec ") {
          if (!walkFrames(pos + 12, pos + 8 + sz)) return false
        } else if (fc.length == 4 && fc(0).isDigit && fc(1).isDigit &&
                   (fc.substring(2) == "dc" || fc.substring(2) == "db")) {
          val frame = java.util.Arrays.copyOfRange(p, pos + 8, pos + 8 + sz)
          decodePixels(frame) match {
            case Some(img) => buf += img
            case None => return false // a video chunk that isn't JPEG
          }
        } // else: audio chunks (##wb), idx1 inside rec, etc. — skip
        pos += 8 + sz + (sz & 1) // RIFF word alignment
      }
      true
    }

    var pos = 12
    while (pos + 8 <= riffEnd) {
      val fc = fourcc(pos)
      val sz = le32(p, pos + 4)
      if (sz < 0 || pos + 8 + sz > riffEnd) return None
      if (fc == "LIST" && sz >= 4) {
        fourcc(pos + 8) match {
          case "hdrl" => sawHdrl = true
          case "movi" => if (!walkFrames(pos + 12, pos + 8 + sz)) return None
          case _ => // INFO etc.
        }
      } // top-level idx1 / JUNK: skip
      pos += 8 + sz + (sz & 1)
    }
    if (!sawHdrl || buf.isEmpty) None else Some(buf.toIndexedSeq)
  } catch { case _: Exception => None }

  /** Container-dispatching video decode: animated GIF or MJPEG-in-AVI. */
  def decodeVideoFrames(p: Array[Byte]): Option[IndexedSeq[PixelImage]] =
    if (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F')
      decodeGifFrames(p)
    else if (p.length >= 12 && p(0) == 'R' && p(1) == 'I') decodeAviFrames(p)
    else None

  /** REAL frame sampling over a decoded clip (GIF or MJPEG-AVI): all
    * frames when the clip has ≤ n, else the n evenly-spaced frames at
    * indices ⌊i·f/n⌋ (exact integer arithmetic — the oracle's Python twin
    * replays it). */
  def sampleVideoFrames(p: Array[Byte],
                        n: Int): Option[IndexedSeq[PixelImage]] =
    if (n <= 0) None
    else decodeVideoFrames(p).map { fs =>
      if (fs.length <= n) fs
      else IndexedSeq.tabulate(n)(i => fs(i * fs.length / n))
    }

  /** Per-sampled-frame raster profile (frame_ix = position in the SAMPLED
    * order, not the file order). */
  case class VideoFrameStats(doc_id: Long, frame_ix: Int, width: Int,
                             height: Int, luma_sum: Long, n_pixels: Int)

  /** Partition-batched clip decode (GIF or MJPEG-AVI) → evenly-sampled
    * frames → per-frame luminance statistics; payloads that do not decode
    * are dropped (q_media_video runs on the fixture catalog, where every
    * payload decodes). Frames themselves never leave executors. */
  def videoFrameStatsAll(media: Dataset[MediaRecord],
                         n: Int): Dataset[VideoFrameStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      sampleVideoFrames(r.payload, n).toSeq.flatMap { frames =>
        frames.zipWithIndex.map { case (img, ix) =>
          val np = img.width * img.height
          var s = 0L; var i = 0
          while (i < np) { s += luma(img, i); i += 1 }
          VideoFrameStats(r.doc_id, ix, img.width, img.height, s, np)
        }
      }
    })
  }

  /** The committed audio fixtures (tools/make_av_fixtures.py writes them
    * + the expected statistics). doc_id = −(100+pos+1) — a negative range
    * disjoint from both documents and the image fixtures. */
  val AudioFixtureNames: Seq[String] = Seq(
    "wav16_mono.wav", "wav16_stereo.wav", "wav8_mono.wav",
    "wav16_chunks.wav")

  /** The committed video fixtures (animated GIF incl. an interlaced one,
    * and an MJPEG AVI); doc_id = −(200+pos+1). */
  val VideoFixtureNames: Seq[String] = Seq(
    "gif_anim.gif", "gif_single.gif", "gif_lct.gif", "gif_wide.gif",
    "gif_interlaced.gif", "avi_mjpeg.avi")

  private def fixtureCatalog(spark: SparkSession, names: Seq[String],
                             base: Int,
                             mediaType: String): Dataset[MediaRecord] = {
    import spark.implicits._
    val recs = names.zipWithIndex.map { case (name, i) =>
      val in = getClass.getResourceAsStream(s"/graft/fixtures/$name")
      require(in != null, s"missing fixture resource $name")
      val bytes = try in.readAllBytes() finally in.close()
      MediaRecord(-(base + i + 1).toLong, mediaType, bytes)
    }
    spark.createDataset(recs)
  }

  /** Audio fixture catalog as a media table (constant-size frame, ~700 B
    * total, classpath-loaded so any driver sees the same bytes). */
  def fixtureAudio(spark: SparkSession): Dataset[MediaRecord] =
    fixtureCatalog(spark, AudioFixtureNames, 100, "audio/wav")

  /** Video (GIF) fixture catalog as a media table. */
  def fixtureVideo(spark: SparkSession): Dataset[MediaRecord] =
    fixtureCatalog(spark, VideoFixtureNames, 200, "video/gif")
}
