package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Bytes._

/** Multimodal columns: image/audio/video as opaque BINARY with typed
  * metadata, processed partition-batch-wise.
  *
  * Decode is REAL for every format a lib-free decoder can cover: PNM
  * ([[PnmCodec]]), PNG ([[PngCodec]] — JDK zlib inflate + the spec's
  * unfilter), baseline + progressive JPEG ([[JpegCodec]], r13), PCM WAV
  * ([[WavCodec]]), FLAC ([[FlacCodec]], r13), G.711 μ-law/A-law and IMA
  * ADPCM ([[G711Codec]]/[[AdpcmCodec]], r14), and MJPEG-in-MP4 video
  * payloads ([[Mp4Container]] + [[decodeVideoFrameLumas]], r14). Only
  * perceptual-transform codecs (MP3/OGG/AAC audio; H.26x/VP/AV1 video
  * payloads) fall to the deterministic stubs — the one seam to swap for
  * JavaCV/ffmpeg bindings on a real cluster; everything else (batching,
  * schema, partitioning) is production-shaped. Binary payloads never
  * shuffle: decode/feature steps are narrow mapPartitions over the scan,
  * and only the small extracted features flow onward.
  */
object Multimodal {

  /** One media asset: opaque bytes + typed metadata. */
  case class MediaAsset(asset_id: Long, mime: String, bytes: Array[Byte])

  /** Split-independence repartition for the synthetic-corpus generators:
    * spread the decode/encode-heavy per-doc work across the cluster
    * regardless of the source table's split count — a small corpus can
    * arrive as ONE parquet split, which would pin the whole codec stage
    * (and everything downstream of its narrow chain) to a single task
    * (measured 4-7x wall on the media faces at sf0.1). The partition
    * count is EXPLICIT: AQE coalesces a column-only repartition of small
    * data back to one partition, which is the exact failure being fixed —
    * decode cost is CPU-bound and invisible to size-based coalescing.
    * The shuffled payload is only (doc_id, text)-sized rows. */
  private[operators] def spreadByDocId(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism,
      col("doc_id"))

  /** Decoded image features (the stub derives them deterministically from
    * the bytes so tests are stable). */
  case class ImageFeatures(asset_id: Long, width: Int, height: Int,
      n_bytes: Long, feature: Array[Float])

  /** One sampled video frame reference. */
  case class FrameSample(asset_id: Long, frame_index: Int, frame_sha: String)

  /** The codec seam: decode bytes to (width, height, 8-dim feature), or
    * None when the payload isn't this codec's format. */
  trait Codec extends Serializable {
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])]
  }

  /** A real decoder: besides features it yields the full-resolution
    * integer luminance plane (BT.601 integer weights, floor division —
    * bit-exact on any platform) that the perceptual-hash family hashes.
    * [[StubCodec]] is not one: a fake plane must never enter a hash. */
  trait RealCodec extends Codec {
    private[graft] def decodeLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])]
  }

  /** A real decoder whose features and luma both come from one pixel
    * decode — (w, h, channels ∈ {1, 3}, channel-interleaved bytes) —
    * through the shared [[featuresOfPixels]] and [[lumaOfPixels]]
    * conversions, so no two codecs' features can drift apart. */
  trait PixelCodec extends RealCodec {
    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])]

    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] =
      decodePixels(bytes).map { case (w, h, ch, px) => featuresOfPixels(w, h, ch, px) }

    private[graft] def decodeLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
      decodePixels(bytes).map { case (w, h, ch, px) => lumaOfPixels(w, h, ch, px) }
  }

  /** REAL decoder for binary PNM (P5 grayscale / P6 RGB, maxval <= 255) —
    * chosen because the format needs zero external libraries, so the
    * decode step is genuinely real in this container. Features: per-
    * channel means, 2×2 luminance-quadrant means, and aspect w/(w+h),
    * all in [0,1]. PNG, JPEG, and MJPEG video decode for real too
    * ([[PngCodec]]/[[JpegCodec]]/[[decodeVideoFrameLumas]]);
    * [[StubCodec]] remains the deterministic fallback for the
    * perceptual-codec formats without a decoder here. */
  object PnmCodec extends RealCodec {
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] = {
      if (bytes.length < 10 || bytes(0) != 'P' ||
          (bytes(1) != '5' && bytes(1) != '6')) return None
      val rgb = bytes(1) == '6'
      var pos = 2
      // header tokens: width, height, maxval — whitespace-separated,
      // '#' comments run to end-of-line
      def nextInt(): Option[Int] = {
        while (pos < bytes.length &&
          (bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
          if (bytes(pos) == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        while (pos < bytes.length && bytes(pos).toChar.isDigit) pos += 1
        // > 9 digits cannot be a sane dimension/maxval and would throw
        // in toInt — adversarial headers must yield None, never crash
        if (pos == start || pos - start > 9) None
        else Some(new String(bytes, start, pos - start).toInt)
      }
      for {
        w <- nextInt()
        h <- nextInt()
        maxval <- nextInt()
        if w > 0 && h > 0 && maxval > 0 && maxval <= 255
        // single whitespace separates header from raster
        if pos < bytes.length && bytes(pos).toChar.isWhitespace
        raster = pos + 1
        channels = if (rgb) 3 else 1
        if bytes.length - raster >= w.toLong * h * channels
      } yield {
        var rSum = 0L; var gSum = 0L; var bSum = 0L
        val quadLuma = new Array[Long](4)
        val quadN = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val off = raster + (y.toLong * w + x).toInt * channels
            val r = bytes(off) & 0xff
            val g = if (rgb) bytes(off + 1) & 0xff else r
            val b = if (rgb) bytes(off + 2) & 0xff else r
            rSum += r; gSum += g; bSum += b
            val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
            quadLuma(q) += (r * 299L + g * 587L + b * 114L) / 1000L
            quadN(q) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        val m = maxval.toFloat
        val feature = Array(
          rSum.toFloat / n / m, gSum.toFloat / n / m, bSum.toFloat / n / m,
          if (quadN(0) > 0) quadLuma(0).toFloat / quadN(0) / m else 0f,
          if (quadN(1) > 0) quadLuma(1).toFloat / quadN(1) / m else 0f,
          if (quadN(2) > 0) quadLuma(2).toFloat / quadN(2) / m else 0f,
          if (quadN(3) > 0) quadLuma(3).toFloat / quadN(3) / m else 0f,
          w.toFloat / (w + h))
        (w, h, feature)
      }
    }

    /** Pixel-level decode for the perceptual-hash family (q159): the
      * same header/raster contract as [[decodeImage]], returning the
      * full-resolution integer luminance plane (BT.601 integer weights,
      * floor division — bit-exact on any platform) instead of pooled
      * features. */
    private[graft] def decodeLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (bytes.length < 10 || bytes(0) != 'P' ||
          (bytes(1) != '5' && bytes(1) != '6')) return None
      val rgb = bytes(1) == '6'
      var pos = 2
      def nextInt(): Option[Int] = {
        while (pos < bytes.length &&
          (bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
          if (bytes(pos) == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        while (pos < bytes.length && bytes(pos).toChar.isDigit) pos += 1
        if (pos == start || pos - start > 9) None
        else Some(new String(bytes, start, pos - start).toInt)
      }
      for {
        w <- nextInt()
        h <- nextInt()
        maxval <- nextInt()
        if w > 0 && h > 0 && maxval > 0 && maxval <= 255
        if pos < bytes.length && bytes(pos).toChar.isWhitespace
        raster = pos + 1
        channels = if (rgb) 3 else 1
        if bytes.length - raster >= w.toLong * h * channels
      } yield {
        val luma = new Array[Int](w * h)
        var i = 0
        while (i < w * h) {
          val off = raster + i * channels
          val r = bytes(off) & 0xff
          val g = if (rgb) bytes(off + 1) & 0xff else r
          val b = if (rgb) bytes(off + 2) & 0xff else r
          luma(i) = ((r * 299L + g * 587L + b * 114L) / 1000L).toInt
          i += 1
        }
        (w, h, luma)
      }
    }
  }

  /** REAL decoder for 8- and 16-bit-depth PNG (color types 0 gray /
    * 2 RGB / 3 palette / 4 gray+alpha / 6 RGBA), sequential AND Adam7
    * interlaced (r16, VERDICT r15 next-#4) — no external library: zlib
    * inflate ships in the JDK (`java.util.zip.Inflater`), and the rest
    * is the spec's chunk walk, per-pass per-row unfiltering
    * (None/Sub/Up/Average/Paeth over byte-stride bpp WITHIN each pass),
    * Adam7 scatter, and pixel conversion. Puts the most common web
    * image format on the real-decode path; JPEG joined it in r13
    * ([[JpegCodec]]) — only predictive video payloads remain the
    * [[StubCodec]]'s seam.
    *
    * 16-bit samples reduce to their HIGH byte (big-endian first byte —
    * floor(v/256)): the spec's own recommended depth rescale for
    * display is (v·255+32767)/65535, but the high-byte truncation is
    * what libpng's png_set_strip_16 and ImageIO raster>>8 both produce,
    * is bit-exact integer, and is gated against ImageIO in PngSpec.
    * Sub-8-bit depths (1/2/4) stay rejected — they do not occur in the
    * corpus faces and a partial bit-unpacker would be untested surface.
    *
    * Robustness contract (the PnmCodec discipline): adversarial input —
    * bad signature, truncated chunks, CRC mismatch, short IDAT, bad
    * depth, bad interlace byte — yields None, never a crash; inflated
    * output is size-capped (64 MiB) so a zip-bomb IHDR cannot allocate
    * unboundedly (the cap sums the REAL per-pass scanline sizes, so an
    * interlaced IHDR cannot understate it). Alpha is ignored
    * (features/luma read the color channels as-is — the convention a
    * dedup hash wants: the same image with a different alpha block is
    * the same image). */
  object PngCodec extends PixelCodec {

    private val Sig: Array[Byte] =
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    private val MaxRaw = 64L << 20

    /** Adam7 pass geometry: (x0, y0, dx, dy), spec order. */
    private val Adam7: Array[(Int, Int, Int, Int)] = Array(
      (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
      (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

    /** Per-pass sub-image sizes for a w×h image: (x0, y0, dx, dy, pw,
      * ph), EMPTY passes dropped (spec: a zero-pixel pass contributes no
      * scanlines at all). Sequential images are the single full pass. */
    private def passesOf(w: Int, h: Int, interlaced: Boolean)
        : Array[(Int, Int, Int, Int, Int, Int)] = {
      val geo = if (interlaced) Adam7 else Array((0, 0, 1, 1))
      geo.map { case (x0, y0, dx, dy) =>
        val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
        val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
        (x0, y0, dx, dy, pw, ph)
      }.filter(p => p._5 > 0 && p._6 > 0)
    }

    /** (w, h, channels ∈ {1, 3}, channel-interleaved pixel bytes) with
      * alpha stripped and palette indices resolved. */
    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 8 + 25 || !bytes.take(8).sameElements(Sig)) return None
      // chunk walk: IHDR first, concatenate IDATs, keep PLTE, stop at IEND
      var pos = 8
      var ihdr = -1
      var plte: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      var seenEnd = false
      while (!seenEnd) {
        if (pos + 12 > bytes.length) return None // truncated chunk header
        val len = be32(bytes, pos)
        if (len > Int.MaxValue - 12 || pos + 12 + len > bytes.length) return None
        val ctype = str(bytes, pos + 4, 4)
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, pos + 4, 4 + len.toInt)
        if (crc.getValue != be32(bytes, pos + 8 + len.toInt)) return None // corrupt
        ctype match {
          case "IHDR" => if (ihdr < 0) ihdr = pos + 8 else return None
          case "PLTE" => plte = java.util.Arrays.copyOfRange(
            bytes, pos + 8, pos + 8 + len.toInt)
          case "IDAT" => idat.write(bytes, pos + 8, len.toInt)
          case "IEND" => seenEnd = true
          case _ => // ancillary chunk — skip
        }
        pos += 12 + len.toInt
      }
      if (ihdr < 0) return None
      val w = be32(bytes, ihdr); val h = be32(bytes, ihdr + 4)
      val bitDepth = bytes(ihdr + 8) & 0xff
      val colorType = bytes(ihdr + 9) & 0xff
      val interlace = bytes(ihdr + 12) & 0xff
      // Dimension bound BEFORE any multiply: w,h are raw unsigned 32-bit
      // reads (up to 2^32-1), so stride*h can overflow Long for a crafted
      // IHDR (e.g. w=2^30, h=2^32-1, RGBA) and wrap PAST the MaxRaw cap
      // into a negative Array size. 1<<24 per side keeps every product
      // comfortably inside Long and is far above any MaxRaw-passing image.
      if (w <= 0 || h <= 0 || w > (1L << 24) || h > (1L << 24) ||
          (bitDepth != 8 && bitDepth != 16) ||
          (interlace != 0 && interlace != 1)) return None
      val samples = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      // palette entries are 8-bit indices by definition here (16-bit
      // palette depth is not in the spec); spec also forbids depth 16 + 3
      if (colorType == 3 && (plte == null || bitDepth != 8)) return None
      val bps = bitDepth / 8     // bytes per sample (1 or 2)
      val bpp = samples * bps    // filter byte-stride
      val wi = w.toInt; val hi = h.toInt
      val passes = passesOf(wi, hi, interlace == 1)
      // per-pass scanline accounting: every factor ≤ 2^24 · 8, so the
      // sum stays far inside Long — no overflow route to a bad alloc
      val expected = passes.map(p => p._6.toLong * (p._5.toLong * bpp + 1)).sum
      if (expected <= 0 || expected > MaxRaw) return None
      val raw = new Array[Byte](expected.toInt)
      try {
        val inf = new java.util.zip.Inflater()
        try {
          inf.setInput(idat.toByteArray)
          var off = 0
          while (off < raw.length && !inf.finished()) {
            val n = inf.inflate(raw, off, raw.length - off)
            if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
            off += n
          }
          if (off < raw.length) return None // short IDAT
        } finally inf.end()
      } catch { case _: java.util.zip.DataFormatException => return None }
      // per-pass per-row unfilter in place (left/up neighbors are
      // bpp-strided WITHIN the pass — Adam7 filters each sub-image as if
      // it were a standalone image), then scatter the pass's pixels onto
      // the output grid. 16-bit samples read their big-endian HIGH byte.
      def paeth(a: Int, b: Int, c: Int): Int = {
        val p = a + b - c
        val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      val outCh = colorType match { case 0 | 4 => 1; case _ => 3 }
      val px = new Array[Byte](wi * hi * outCh)
      var passOff = 0
      var pidx = 0
      while (pidx < passes.length) {
        val (x0, y0, dx, dy, pw, ph) = passes(pidx)
        val si = pw * bpp + 1
        var y = 0
        while (y < ph) {
          val rowOff = passOff + y * si
          val filter = raw(rowOff) & 0xff
          if (filter > 4) return None
          var i = 1
          while (i < si) {
            val x = raw(rowOff + i) & 0xff
            val a = if (i > bpp) raw(rowOff + i - bpp) & 0xff else 0
            val b = if (y > 0) raw(rowOff - si + i) & 0xff else 0
            val c = if (y > 0 && i > bpp) raw(rowOff - si + i - bpp) & 0xff else 0
            val v = filter match {
              case 0 => x
              case 1 => x + a
              case 2 => x + b
              case 3 => x + (a + b) / 2
              case 4 => x + paeth(a, b, c)
            }
            raw(rowOff + i) = (v & 0xff).toByte
            i += 1
          }
          // scatter: gray (1ch) or rgb (3ch), dropping alpha / resolving
          // palette; sample's high byte sits first (big-endian)
          var xi = 0
          while (xi < pw) {
            val off = rowOff + 1 + xi * bpp
            val p = ((y0 + y * dy) * wi + (x0 + xi * dx)) * outCh
            colorType match {
              case 0 | 4 => px(p) = raw(off)
              case 2 | 6 =>
                px(p) = raw(off); px(p + 1) = raw(off + bps)
                px(p + 2) = raw(off + 2 * bps)
              case 3 =>
                val idx = (raw(off) & 0xff) * 3
                if (idx + 2 >= plte.length) return None
                px(p) = plte(idx); px(p + 1) = plte(idx + 1)
                px(p + 2) = plte(idx + 2)
            }
            xi += 1
          }
          y += 1
        }
        passOff += ph * si
        pidx += 1
      }
      Some((wi, hi, outCh, px))
    }

    /** Minimal deterministic gray encoder for fixtures and the q159
      * synthetic corpus: filter-0 scanlines in a STORED-block zlib
      * stream (no Deflater — byte-identical on every JVM forever) with
      * spec CRCs. The decoder above accepts any conformant producer;
      * this encoder exists so tests can round-trip hand-built pixels.
      *
      * Byte-disjoint PROFILES from identical pixels (r16 — the GifCodec
      * two-profile discipline, here a four-point ladder over the two new
      * decode axes): 0 = depth 8 sequential (bit-identical to the pre-r16
      * encoder — the committed q159/q172/q228 pins must not move); 1 =
      * depth 8 Adam7 INTERLACED (rows scattered across 7 passes); 2 =
      * depth 16 sequential (sample v → bytes (v, v), i.e. v·257 — the
      * canonical 8→16 widening, whose high byte decodes back to exactly
      * v, so every profile is pixel-lossless); 3 = depth 16 Adam7. */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} pixels, got ${pixels.length}")
      require(profile >= 0 && profile <= 3, s"profile $profile")
      val interlaced = profile == 1 || profile == 3
      val depth16 = profile >= 2
      val bps = if (depth16) 2 else 1
      val passes = passesOf(w, h, interlaced)
      val raw = new Array[Byte](
        passes.map(p => p._6 * (p._5 * bps + 1)).sum)
      var passOff = 0
      passes.foreach { case (x0, y0, dx, dy, pw, ph) =>
        val si = pw * bps + 1
        var y = 0
        while (y < ph) {
          // raw(passOff + y*si) stays 0: filter None
          var xi = 0
          while (xi < pw) {
            val v = pixels((y0 + y * dy) * w + (x0 + xi * dx))
            val off = passOff + y * si + 1 + xi * bps
            raw(off) = v
            if (depth16) raw(off + 1) = v
            xi += 1
          }
          y += 1
        }
        passOff += ph * si
      }
      val z = new java.io.ByteArrayOutputStream()
      z.write(0x78); z.write(0x01) // zlib header, no preset dict
      var off = 0
      while (off < raw.length || off == 0) {
        val len = math.min(65535, raw.length - off)
        val last = off + len == raw.length
        z.write(if (last) 1 else 0) // BFINAL | BTYPE=00 (stored)
        z.write(len & 0xff); z.write((len >> 8) & 0xff)
        z.write(~len & 0xff); z.write((~len >> 8) & 0xff)
        z.write(raw, off, len)
        off += len
        if (last) off = raw.length + 1 // exit (handles the empty case)
      }
      val adler = new java.util.zip.Adler32()
      adler.update(raw)
      putBe32(z, adler.getValue)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Sig, 0, Sig.length)
      def chunk(ctype: String, data: Array[Byte]): Unit = {
        putBe32(out, data.length)
        val tb = ctype.getBytes("US-ASCII")
        out.write(tb, 0, 4)
        out.write(data, 0, data.length)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        putBe32(out, crc.getValue)
      }
      val ihdr = new java.io.ByteArrayOutputStream()
      putBe32(ihdr, w); putBe32(ihdr, h)
      // depth 8/16, gray, deflate, adaptive, sequential/Adam7
      ihdr.write(if (depth16) 16 else 8); ihdr.write(0); ihdr.write(0); ihdr.write(0)
      ihdr.write(if (interlaced) 1 else 0)
      chunk("IHDR", ihdr.toByteArray)
      chunk("IDAT", z.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
  }

  /** GIF decoder (87a/89a) — pure JVM, zero codec libraries (the
    * PngCodec discipline applied to the one remaining ubiquitous web
    * image format whose compression is purely ALGORITHMIC: GIF-LZW has
    * no spec constant tables, unlike MP3/AAC/H.26x, so it fits the
    * lib-free codec policy — r14 VERDICT #4). Full container walk:
    * logical screen descriptor, global/local color tables, graphic
    * control extensions (transparency index + disposal method),
    * application/comment/plain-text extensions skipped by sub-block
    * chain, image descriptors with interlace support, and variable-
    * width LSB-first LZW decode (CLEAR/EOI, dictionary growth to 12
    * bits, the KwKwK self-reference case, deferred-clear tolerance).
    * ANIMATED GIFs composite onto the logical-screen canvas honoring
    * per-frame offsets, transparency (holes show the previous canvas)
    * and disposal methods 0/1 (keep), 2 (restore background), 3
    * (restore previous) — every composited frame returns full-canvas,
    * so frame hashes are offset-invariant by construction.
    *
    * Robustness contract (the JpegCodec one): adversarial input —
    * truncated sub-block chains, lying palette sizes, codes past the
    * dictionary, out-of-palette indices, crafted dimensions — yields
    * None / the frames decoded so far, never a crash or an unbounded
    * allocation (canvas pixels capped at 2²⁴, and so are the pixels of
    * all returned full-canvas frames together; frame count at 4096).
    * Determinism: integer-only arithmetic end to end.
    *
    * The minimal real ENCODER exists for fixtures and the independent
    * round-trip gates (GIF is lossless, so the gate is bit-exactness —
    * the FLAC standard, stronger than JPEG's ≤3-grey parity; the JDK's
    * ImageIO reads GIF and serves as the independent reference
    * decoder). Two entropy-level profiles produce byte-disjoint streams
    * from identical pixels — the q225-corpus property: profile 0 writes
    * a global identity-gray palette, sequential rows, 255-byte
    * sub-blocks; profile 1 writes a REVERSED local palette per frame
    * (indices remapped, so even the index planes differ), interlaced
    * rows, 126-byte sub-blocks, and a comment block. */
  object GifCodec extends RealCodec {
    private val MaxPixels = 1L << 24
    private val MaxFrames = 4096

    /** One frame of the encoder plan: a gray sub-image at (left, top);
      * pixels equal to `transparent` (a gray VALUE) are written as the
      * transparent index; `disposal` per the GIF89a GCE semantics. */
    private[graft] final case class FramePlan(left: Int, top: Int, w: Int,
        h: Int, pixels: Array[Byte], transparent: Int = -1,
        disposal: Int = 0, delayCs: Int = 4)

    // ---- decode ------------------------------------------------------

    /** Composited full-canvas frames as packed 0xRRGGBB ints:
      * (frame_index, canvasW, canvasH, rgb). Returns the frames decoded
      * before the first structural error, at most `limit`; Nil when the
      * header fails. */
    private[graft] def decodeRgbFrames(bytes: Array[Byte],
        limit: Int = MaxFrames): Seq[(Int, Int, Int, Array[Int])] =
      try decodeRgbFrames0(bytes, limit)
      catch { case scala.util.control.NonFatal(_) => Nil } // never-crash backstop

    private def decodeRgbFrames0(bytes: Array[Byte],
        limit: Int): Seq[(Int, Int, Int, Array[Int])] = {
      if (bytes.length < 13) return Nil
      val sig = str(bytes, 0, 6)
      if (sig != "GIF87a" && sig != "GIF89a") return Nil
      def palette(off: Int, n: Int): Array[Int] =
        Array.tabulate(n) { i =>
          ((bytes(off + 3 * i) & 0xff) << 16) |
            ((bytes(off + 3 * i + 1) & 0xff) << 8) |
            (bytes(off + 3 * i + 2) & 0xff)
        }
      val sw = le16(bytes, 6); val sh = le16(bytes, 8)
      if (sw <= 0 || sh <= 0 || sw.toLong * sh > MaxPixels) return Nil
      val lsdPacked = bytes(10) & 0xff
      var pos = 13
      var gct: Array[Int] = null
      if ((lsdPacked & 0x80) != 0) {
        val n = 2 << (lsdPacked & 7)
        if (pos + 3 * n > bytes.length) return Nil
        gct = palette(pos, n); pos += 3 * n
      }
      val bgIdx = bytes(11) & 0xff
      val bg = if (gct != null && bgIdx < gct.length) gct(bgIdx) else 0
      val canvas = new Array[Int](sw * sh)
      java.util.Arrays.fill(canvas, bg)
      // every returned frame is a full-canvas copy: the composited-pixel
      // budget bounds their sum, so tiny frames on a huge canvas stop early
      val maxFrames = math.min(limit.toLong, MaxPixels / canvas.length).toInt
      val frames = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, Int, Array[Int])]
      var transparentIdx = -1
      var disposal = 0
      // skip a 255-byte-max sub-block chain; -1 on truncation
      def skipSubBlocks(p0: Int): Int = {
        var p = p0
        while (p < bytes.length && bytes(p) != 0) {
          p += 1 + (bytes(p) & 0xff)
          if (p > bytes.length) return -1
        }
        if (p >= bytes.length) -1 else p + 1 // past the 0 terminator
      }
      while (pos < bytes.length && frames.size < maxFrames) {
        (bytes(pos) & 0xff) match {
          case 0x3b => return frames.toSeq // trailer
          case 0x21 => // extension
            if (pos + 2 > bytes.length) return frames.toSeq
            val label = bytes(pos + 1) & 0xff
            pos += 2
            if (label == 0xf9 && pos < bytes.length) {
              val bs = bytes(pos) & 0xff
              if (pos + 1 + bs > bytes.length) return frames.toSeq
              if (bs >= 4) {
                val p = bytes(pos + 1) & 0xff
                disposal = (p >> 2) & 7
                transparentIdx =
                  if ((p & 1) != 0) bytes(pos + 4) & 0xff else -1
              }
              // skip from the SIZE byte: a bs == 0 GCE is itself the
              // chain terminator (starting one past it read the next
              // block's first byte as a phantom sub-block length —
              // r15 review finding)
              pos = skipSubBlocks(pos)
            } else pos = skipSubBlocks(pos)
            if (pos < 0) return frames.toSeq
          case 0x2c => // image descriptor
            if (pos + 10 > bytes.length) return frames.toSeq
            val left = le16(bytes, pos + 1); val top = le16(bytes, pos + 3)
            val fw = le16(bytes, pos + 5); val fh = le16(bytes, pos + 7)
            val idPacked = bytes(pos + 9) & 0xff
            pos += 10
            var lct: Array[Int] = null
            if ((idPacked & 0x80) != 0) {
              val n = 2 << (idPacked & 7)
              if (pos + 3 * n > bytes.length) return frames.toSeq
              lct = palette(pos, n); pos += 3 * n
            }
            val pal = if (lct != null) lct else gct
            if (pal == null || fw <= 0 || fh <= 0 ||
                left + fw > sw || top + fh > sh) return frames.toSeq
            if (pos >= bytes.length) return frames.toSeq
            val minCode = bytes(pos) & 0xff; pos += 1
            if (minCode < 1 || minCode > 8) return frames.toSeq
            // concatenate the data sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            var p = pos
            var ok = true
            while (ok && p < bytes.length && bytes(p) != 0) {
              val n = bytes(p) & 0xff
              if (p + 1 + n > bytes.length) ok = false
              else { data.write(bytes, p + 1, n); p = p + 1 + n }
            }
            if (!ok || p >= bytes.length) return frames.toSeq
            pos = p + 1
            val indices = lzwDecode(data.toByteArray, minCode, fw * fh)
            if (indices == null) return frames.toSeq
            val before = if (disposal == 3) canvas.clone() else null
            // render: interlaced GIFs store rows in 4 passes
            val rowOrder: Iterator[Int] =
              if ((idPacked & 0x40) != 0)
                Iterator.range(0, fh, 8) ++ Iterator.range(4, fh, 8) ++
                  Iterator.range(2, fh, 4) ++ Iterator.range(1, fh, 2)
              else Iterator.range(0, fh)
            var src = 0
            rowOrder.foreach { ry =>
              var x = 0
              while (x < fw) {
                val ci = indices(src) & 0xff; src += 1
                if (ci != transparentIdx && ci < pal.length)
                  canvas((top + ry) * sw + (left + x)) = pal(ci)
                x += 1
              }
            }
            frames += ((frames.size, sw, sh, canvas.clone()))
            disposal match {
              case 2 => // restore background over the frame's rectangle
                var ry = 0
                while (ry < fh) {
                  var x = 0
                  while (x < fw) {
                    canvas((top + ry) * sw + (left + x)) = bg; x += 1
                  }
                  ry += 1
                }
              case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
              case _ => ()
            }
            disposal = 0; transparentIdx = -1
          case _ => return frames.toSeq // unknown block: bail cleanly
        }
      }
      frames.toSeq
    }

    /** GIF-LZW decode of the concatenated image data: exactly `nPixels`
      * palette indices or null (truncated / corrupt stream). Variable
      * code width LSB-first starting minCodeSize+1, CLEAR resets, growth
      * to 12 bits, KwKwK handled, code > dictSize rejected. */
    private[graft] def lzwDecode(data: Array[Byte], minCodeSize: Int,
        nPixels: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val stack = new Array[Byte](4097)
      val out = new Array[Byte](nPixels)
      var outLen = 0
      var dictSize = clear + 2
      var width = minCodeSize + 1
      var prev = -1
      var bitPos = 0
      val totalBits = data.length * 8
      def firstOf(code0: Int): Byte = {
        var c = code0
        while (c >= clear + 2) c = prefix(c)
        c.toByte
      }
      while (outLen < nPixels) {
        if (bitPos + width > totalBits) return null // ran out mid-frame
        var code = 0
        var i = 0
        while (i < width) {
          val b = bitPos + i
          if ((data(b >> 3) & (1 << (b & 7))) != 0) code |= 1 << i
          i += 1
        }
        bitPos += width
        if (code == eoi) return null // EOI before the frame filled
        else if (code == clear) {
          dictSize = clear + 2; width = minCodeSize + 1; prev = -1
        } else {
          var sp = 0
          var cur = code
          if (code >= dictSize) {
            // only the KwKwK self-reference (code == dictSize) is legal
            if (prev < 0 || code != dictSize) return null
            stack(sp) = firstOf(prev); sp += 1
            cur = prev
          }
          while (cur >= clear + 2) {
            stack(sp) = suffix(cur); sp += 1
            cur = prefix(cur)
          }
          val first = cur.toByte
          stack(sp) = first; sp += 1
          while (sp > 0 && outLen < nPixels) {
            sp -= 1; out(outLen) = stack(sp); outLen += 1
          }
          if (prev >= 0 && dictSize < 4096) {
            prefix(dictSize) = prev
            suffix(dictSize) = first
            dictSize += 1
            if (dictSize == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
      out
    }

    /** First composited frame → the shared 8-dim feature contract. */
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] =
      decodeRgbFrames(bytes, limit = 1).headOption.map { case (_, w, h, rgb) =>
        val px = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          px(3 * i) = ((rgb(i) >> 16) & 0xff).toByte
          px(3 * i + 1) = ((rgb(i) >> 8) & 0xff).toByte
          px(3 * i + 2) = (rgb(i) & 0xff).toByte
          i += 1
        }
        featuresOfPixels(w, h, 3, px)
      }

    private def lumaOfRgb(rgb: Array[Int]): Array[Int] = {
      val luma = new Array[Int](rgb.length)
      var i = 0
      while (i < rgb.length) {
        val v = rgb(i)
        luma(i) = ((((v >> 16) & 0xff) * 299L + ((v >> 8) & 0xff) * 587L +
          (v & 0xff) * 114L) / 1000L).toInt
        i += 1
      }
      luma
    }

    /** First composited frame's integer luminance (the decodeLuma
      * contract shared with PNM/PNG/JPEG). */
    private[graft] def decodeLuma(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
      decodeRgbFrames(bytes, limit = 1).headOption.map { case (_, w, h, rgb) =>
        (w, h, lumaOfRgb(rgb))
      }

    /** Every composited frame's luminance — the animated-GIF twin of
      * [[decodeVideoFrameLumas]]'s MP4 path. */
    private[graft] def decodeFrameLumas(
        bytes: Array[Byte]): Seq[(Int, Int, Int, Array[Int])] =
      decodeRgbFrames(bytes).map { case (i, w, h, rgb) =>
        (i, w, h, lumaOfRgb(rgb))
      }

    // ---- encode ------------------------------------------------------

    /** GIF-LZW encode with the decoder-mirrored width state machine:
      * the width used for each emitted code tracks the DECODER's
      * dictionary size (which trails the encoder's by one add), so any
      * conformant decoder — ours, ImageIO — reads the stream back
      * bit-exactly. Emits CLEAR and resets when the table fills. */
    private[graft] def lzwEncode(indices: Array[Byte],
        minCodeSize: Int): Array[Byte] = {
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0; var accBits = 0
      var width = minCodeSize + 1
      var decNext = clear + 2 // the decoder's next free slot
      var firstSinceClear = true
      val dict = new java.util.HashMap[Integer, Integer]()
      var encNext = clear + 2
      def put(code: Int): Unit = {
        acc |= code << accBits; accBits += width
        while (accBits >= 8) { out.write(acc & 0xff); acc >>>= 8; accBits -= 8 }
      }
      def afterData(): Unit = {
        // mirror: the decoder defines one entry per data code except the
        // first after a clear, then bumps width when its table fills
        if (firstSinceClear) firstSinceClear = false
        else if (decNext < 4096) {
          decNext += 1
          if (decNext == (1 << width) && width < 12) width += 1
        }
      }
      def reset(): Unit = {
        dict.clear(); encNext = clear + 2
        decNext = clear + 2; width = minCodeSize + 1; firstSinceClear = true
      }
      put(clear)
      if (indices.nonEmpty) {
        var prev: Int = indices(0) & 0xff
        var i = 1
        while (i < indices.length) {
          val b = indices(i) & 0xff
          val key = (prev << 8) | b
          val hit = dict.get(key)
          if (hit != null) prev = hit.intValue()
          else {
            put(prev); afterData()
            if (encNext < 4096) { dict.put(key, encNext); encNext += 1 }
            else { put(clear); reset() } // table full: clear and restart
            prev = b
          }
          i += 1
        }
        put(prev); afterData()
      }
      put(eoi)
      if (accBits > 0) out.write(acc & 0xff)
      out.toByteArray
    }

    /** Minimal real encoder for fixtures: gray frames on a `sw`×`sh`
      * logical screen, 256-entry palette, real LZW. Profile 0: global
      * identity palette, sequential rows, 255-byte sub-blocks (+ a
      * NETSCAPE loop block when animated). Profile 1: reversed LOCAL
      * palette per frame (pixels remapped to 255−v, so index planes are
      * byte-disjoint from profile 0's), interlaced rows, 126-byte
      * sub-blocks, and a comment block — identical pixels, disjoint
      * bytes, and the decoder's interlace + LCT paths exercised by
      * every profile-1 fixture. */
    private[graft] def encode(sw: Int, sh: Int, frames: Seq[FramePlan],
        profile: Int = 0): Array[Byte] = {
      require(frames.nonEmpty, "at least one frame")
      val reversed = profile == 1
      val interlaced = profile == 1
      val subBlock = if (profile == 1) 126 else 255
      val out = new java.io.ByteArrayOutputStream()
      putAscii(out, "GIF89a")
      putLe16(out, sw); putLe16(out, sh)
      // global table only in profile 0 (7 = 256 entries; color res 8)
      out.write(if (reversed) 0x70 else 0xf7)
      out.write(0) // background index
      out.write(0) // aspect
      if (!reversed) (0 until 256).foreach { i =>
        out.write(i); out.write(i); out.write(i)
      }
      if (profile == 0 && frames.size > 1) {
        // NETSCAPE application extension: loop forever
        out.write(0x21); out.write(0xff); out.write(11)
        out.write("NETSCAPE2.0".getBytes("US-ASCII"))
        out.write(3); out.write(1); putLe16(out, 0); out.write(0)
      }
      if (profile == 1) {
        val c = "graft-p1".getBytes("US-ASCII")
        out.write(0x21); out.write(0xfe); out.write(c.length)
        out.write(c, 0, c.length); out.write(0)
      }
      frames.foreach { f =>
        require(f.left + f.w <= sw && f.top + f.h <= sh, "frame rect")
        require(f.pixels.length >= f.w * f.h, "frame pixels")
        def idxOf(v: Int): Int = if (reversed) 255 - (v & 0xff) else v & 0xff
        val transIdx = if (f.transparent >= 0) idxOf(f.transparent) else -1
        if (transIdx >= 0 || f.disposal != 0 || frames.size > 1) {
          out.write(0x21); out.write(0xf9); out.write(4)
          out.write(((f.disposal & 7) << 2) | (if (transIdx >= 0) 1 else 0))
          putLe16(out, f.delayCs)
          out.write(math.max(transIdx, 0))
          out.write(0)
        }
        out.write(0x2c)
        putLe16(out, f.left); putLe16(out, f.top); putLe16(out, f.w); putLe16(out, f.h)
        out.write((if (reversed) 0x87 else 0x00) | (if (interlaced) 0x40 else 0x00))
        if (reversed) (0 until 256).foreach { i =>
          val v = 255 - i
          out.write(v); out.write(v); out.write(v)
        }
        // row order must match the descriptor's interlace flag
        val rowOrder: Seq[Int] =
          if (interlaced)
            (0 until f.h by 8) ++ (4 until f.h by 8) ++
              (2 until f.h by 4) ++ (1 until f.h by 2)
          else 0 until f.h
        val indices = new Array[Byte](f.w * f.h)
        var o = 0
        rowOrder.foreach { ry =>
          var x = 0
          while (x < f.w) {
            indices(o) = idxOf(f.pixels(ry * f.w + x)).toByte
            o += 1; x += 1
          }
        }
        out.write(8) // LZW minimum code size (256-entry palette)
        val lzw = lzwEncode(indices, 8)
        var off = 0
        while (off < lzw.length) {
          val n = math.min(subBlock, lzw.length - off)
          out.write(n); out.write(lzw, off, n)
          off += n
        }
        out.write(0) // data terminator
      }
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** Single-frame convenience (the PngCodec.encodeGray shape). */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] =
      encode(w, h, Seq(FramePlan(0, 0, w, h, pixels)), profile)
  }

  /** Windows bitmap (BMP) decoder — pure JVM, zero codec libraries (the
    * PngCodec discipline applied to the remaining ubiquitous
    * uncompressed still format; r16). Wire format is public
    * (BITMAPFILEHEADER + BITMAPINFOHEADER and the V2–V5 extensions):
    * little-endian header walk, 8-bit palette / 24-bit BGR / 32-bit
    * BGRx pixel arrays, 4-byte-padded rows, BOTTOM-UP and top-down
    * (negative biHeight) row orders, and BI_RLE8 run-length decoding
    * (encoded runs, absolute mode with word padding, end-of-line /
    * end-of-bitmap / delta escapes). BI_BITFIELDS, 1/4/16-bit planes,
    * and embedded-profile V5 color transforms return None — rare in
    * training corpora and they belong to a codec library; the
    * never-crash backstop is the same as every other decoder here:
    * any malformation (truncated header, palette overrun, RLE cursor
    * escape, pixel-count cap) is None, not a throw. */
  object BmpCodec extends PixelCodec {

    private val MaxPixels = 1 << 26 // 64M px ≈ 192 MB RGB — the PNG cap

    /** (w, h, channels ∈ {1, 3}, channel-interleaved pixel bytes) with
      * palette indices resolved, rows in top-down raster order. */
    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
      val dataOff = le32(bytes, 10)
      val dib = le32(bytes, 14)
      // BITMAPINFOHEADER and its supersets only (V2 52 / V3 56 / V4 108 /
      // V5 124); BITMAPCOREHEADER (12) has a different field layout.
      // Upper bound phrased so a crafted dib near Int.MaxValue cannot
      // overflow 14 + dib into a passing negative
      if (dib < 40 || dib > bytes.length - 14) return None
      val w = le32(bytes, 18)
      val hRaw = le32(bytes, 22)
      val topDown = hRaw < 0
      val h = math.abs(hRaw)
      if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
      if (le16(bytes, 26) != 1) return None // planes
      val bpp = le16(bytes, 28)
      val comp = le32(bytes, 30)
      val ok = (comp, bpp) match {
        case (0, 8) | (0, 24) | (0, 32) => true
        case (1, 8)                     => !topDown // spec: RLE is never top-down
        case _                          => false
      }
      if (!ok) return None
      // palette (BGRx quads) directly after the DIB header; biClrUsed
      // 0 means the full 256 for 8-bit
      val palette: Array[Byte] = if (bpp == 8) {
        val used0 = le32(bytes, 46)
        val used = if (used0 == 0) 256 else used0
        if (used < 1 || used > 256) return None
        val off = 14 + dib
        if (off + 4 * used > bytes.length) return None
        val p = new Array[Byte](768) // unused entries stay 0 (spec: index
        var j = 0                    // past biClrUsed is undefined; 0 is
        while (j < used) {           // the defensive resolve)
          p(j * 3) = bytes(off + j * 4 + 2)     // R
          p(j * 3 + 1) = bytes(off + j * 4 + 1) // G
          p(j * 3 + 2) = bytes(off + j * 4)     // B
          j += 1
        }
        p
      } else null
      if (dataOff < 14 + dib || dataOff > bytes.length) return None
      // size the output only after the header proves the file can carry
      // it: BI_RGB needs stride*h payload bytes; an RLE pair encodes at
      // most 255 pixels per 2 bytes, so w*h is bounded by 128× the
      // remaining payload — a 2-byte EOB claiming 8192×8192 must refuse
      // BEFORE the 192 MB allocation, not crash after it
      if (comp == 0) {
        val stride = (w * (bpp / 8) + 3) & ~3
        if (dataOff.toLong + stride.toLong * h > bytes.length) return None
      } else if (w.toLong * h > 128L * (bytes.length - dataOff)) return None
      val px = new Array[Byte](w * h * 3)
      if (comp == 0) {
        val stride = (w * (bpp / 8) + 3) & ~3
        var row = 0
        while (row < h) {
          val srcRow = if (topDown) row else h - 1 - row
          val src = dataOff + srcRow * stride
          var x = 0
          while (x < w) {
            val o = (row * w + x) * 3
            if (bpp == 8) {
              val idx = (bytes(src + x) & 0xff) * 3
              px(o) = palette(idx); px(o + 1) = palette(idx + 1); px(o + 2) = palette(idx + 2)
            } else {
              val s = src + x * (bpp / 8)
              px(o) = bytes(s + 2); px(o + 1) = bytes(s + 1); px(o + 2) = bytes(s)
            }
            x += 1
          }
          row += 1
        }
      } else {
        // BI_RLE8 over an index plane, always bottom-up; unwritten
        // pixels (delta/EOL skips) are index 0 per the spec's "filled
        // with zeros" recommendation
        val idxPlane = new Array[Byte](w * h)
        var pos = dataOff
        var x = 0
        var yUp = 0 // bottom-up row counter
        var done = false
        while (!done) {
          if (pos + 2 > bytes.length) return None
          val b0 = bytes(pos) & 0xff; val b1 = bytes(pos + 1) & 0xff
          pos += 2
          if (b0 > 0) { // encoded run
            if (yUp >= h || x + b0 > w) return None
            java.util.Arrays.fill(idxPlane, yUp * w + x, yUp * w + x + b0, b1.toByte)
            x += b0
          } else b1 match {
            case 0 =>                 // end of line (after the LAST row's
              x = 0; yUp += 1         // EOL the cursor sits at row h —
              if (yUp > h) return None // legal, only EOB may follow)
            case 1 => done = true     // end of bitmap
            case 2 =>                 // delta (dx, dy): dy moves UP in raster
              if (pos + 2 > bytes.length) return None
              x += bytes(pos) & 0xff; yUp += bytes(pos + 1) & 0xff
              if (x > w || yUp > h) return None
              pos += 2
            case n =>                 // absolute mode, word-padded
              if (yUp >= h || x + n > w || pos + n > bytes.length) return None
              System.arraycopy(bytes, pos, idxPlane, yUp * w + x, n)
              x += n; pos += n + (n & 1)
          }
        }
        var row = 0
        while (row < h) {
          var xx = 0
          while (xx < w) {
            val idx = (idxPlane((h - 1 - row) * w + xx) & 0xff) * 3
            val o = (row * w + xx) * 3
            px(o) = palette(idx); px(o + 1) = palette(idx + 1); px(o + 2) = palette(idx + 2)
            xx += 1
          }
          row += 1
        }
      }
      Some((w, h, 3, px))
    }

    /** Minimal real gray encoder in two byte-disjoint profiles (the
      * GifCodec discipline): 0 = 24-bit BI_RGB bottom-up (gray v →
      * BGR (v,v,v) — the layout ImageIO's BMP writer also emits, so
      * the cross-gate compares like with like); 1 = 8-bit BI_RLE8
      * bottom-up with a REVERSED gray palette (entry j → 255−j, pixel
      * index 255−v: the stored index plane differs from the luma bytes
      * at every v ≠ 127.5, i.e. everywhere) and real run-length
      * encoding (maximal ≤255 runs + EOL/EOB escapes). Both profiles
      * are pixel-lossless on gray, so a BMP trans-code of a corpus is
      * hash-invariant — the q159-pin gate design. */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} pixels, got ${pixels.length}")
      require(profile == 0 || profile == 1, s"profile $profile")
      val body = new java.io.ByteArrayOutputStream()
      if (profile == 0) {
        val stride = (w * 3 + 3) & ~3
        var row = h - 1
        while (row >= 0) {
          var x = 0
          while (x < w) { val v = pixels(row * w + x); body.write(v); body.write(v); body.write(v); x += 1 }
          var pad = stride - w * 3
          while (pad > 0) { body.write(0); pad -= 1 }
          row -= 1
        }
      } else {
        var row = h - 1
        while (row >= 0) {
          var x = 0
          while (x < w) {
            val v = 255 - (pixels(row * w + x) & 0xff)
            var run = 1
            while (x + run < w && run < 255 &&
              (255 - (pixels(row * w + x + run) & 0xff)) == v) run += 1
            body.write(run); body.write(v)
            x += run
          }
          body.write(0); body.write(0) // end of line
          row -= 1
        }
        body.write(0); body.write(1) // end of bitmap
      }
      val paletteBytes = if (profile == 1) 256 * 4 else 0
      val dataOff = 14 + 40 + paletteBytes
      val data = body.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      out.write('B'); out.write('M')
      Seq(dataOff + data.length, 0, dataOff,
        40, w, h).foreach(putLe32(out, _)) // positive h: bottom-up (RLE requires it)
      putLe16(out, 1); putLe16(out, if (profile == 0) 24 else 8)
      Seq(profile, // 0 = BI_RGB, 1 = BI_RLE8
        data.length, 2835, 2835, // 72 dpi
        if (profile == 1) 256 else 0, 0).foreach(putLe32(out, _))
      if (profile == 1) { // reversed gray palette, BGRx quads
        var j = 0
        while (j < 256) { val g = 255 - j; out.write(g); out.write(g); out.write(g); out.write(0); j += 1 }
      }
      out.write(data, 0, data.length)
      out.toByteArray
    }
  }

  /** Baseline TIFF decoder — pure JVM, zero codec libraries (r16; the
    * last common still container whose baseline profile is feasible
    * lib-free). Wire format is public (TIFF 6.0): both byte orders
    * (`II` little- / `MM` big-endian), IFD entry walk with inline vs
    * offset values, strip-organized 8-bit grayscale / palette / RGB,
    * Compression 1 (none) and 32773 (PackBits run-length), photometric
    * 0 (WhiteIsZero, inverted), 1 (BlackIsZero), 2 (RGB), 3 (palette —
    * 16-bit ColorMap entries downsample by high byte like 16-bit PNG).
    * Tiled layout, bit depths ≠ 8, planar configuration 2, LZW/JPEG/
    * Deflate compression return None — a real corpus routes those to a
    * codec library; the never-crash backstop and pixel cap match every
    * decoder here. */
  object TiffCodec extends PixelCodec {

    private val MaxPixels = 1 << 26

    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 8) return None
      val le = bytes(0) == 'I' && bytes(1) == 'I'
      val be = bytes(0) == 'M' && bytes(1) == 'M'
      if (!le && !be) return None
      if (u16(bytes, 2, le) != 42) return None
      val ifd = u32(bytes, 4, le)
      if (ifd < 8 || ifd > bytes.length - 2) return None
      val n = u16(bytes, ifd.toInt, le)
      if (n <= 0 || ifd + 2 + 12L * n > bytes.length) return None
      // tag -> (type, count, valueOffsetField); SHORT/LONG scalar reads
      // resolve inline, array reads resolve through the offset
      var w = 0L; var h = 0L; var bits = 8L; var comp = 1L; var photo = -1L
      var spp = 1L; var rps = Long.MaxValue; var planar = 1L
      var stripOffTag: (Int, Long, Int) = null // (type, count, fieldOff)
      var stripCntTag: (Int, Long, Int) = null
      var colorMapTag: (Int, Long, Int) = null
      var tiled = false
      var i = 0
      while (i < n) {
        val e = ifd.toInt + 2 + 12 * i
        val tag = u16(bytes, e, le); val typ = u16(bytes, e + 2, le)
        val cnt = u32(bytes, e + 4, le)
        def scalar: Long =
          if (typ == 3) u16(bytes, e + 8, le).toLong
          else if (typ == 4) u32(bytes, e + 8, le)
          else -1L
        tag match {
          case 256 => w = scalar
          case 257 => h = scalar
          case 258 => // BitsPerSample: count 1 inline, or array (all must be 8)
            bits = if (cnt == 1) scalar
            else {
              val off = u32(bytes, e + 8, le)
              if (typ != 3 || off < 0 || off + 2 * cnt > bytes.length) -1
              else {
                var ok = true; var j = 0
                while (j < cnt) { if (u16(bytes, (off + 2 * j).toInt, le) != 8) ok = false; j += 1 }
                if (ok) 8 else -1
              }
            }
          case 259 => comp = scalar
          case 262 => photo = scalar
          case 273 => stripOffTag = (typ, cnt, e + 8)
          case 277 => spp = scalar
          case 278 => rps = scalar
          case 279 => stripCntTag = (typ, cnt, e + 8)
          case 284 => planar = scalar
          case 320 => colorMapTag = (typ, cnt, e + 8)
          case 322 | 323 | 324 | 325 => tiled = true
          case _ => // ancillary tag — skip
        }
        i += 1
      }
      if (tiled || bits != 8 || planar != 1) return None
      if (comp != 1 && comp != 32773) return None
      if (w <= 0 || h <= 0 || w * h > MaxPixels) return None
      if (stripOffTag == null || stripCntTag == null) return None
      val okShape = (photo, spp) match {
        case (0, 1) | (1, 1) | (3, 1) => true
        case (2, s) if s >= 3         => true // extra samples stripped
        case _                        => false
      }
      if (!okShape) return None
      if (photo == 3 && colorMapTag == null) return None
      def longArray(t: (Int, Long, Int)): Option[Array[Long]] = {
        val (typ, cnt, fld) = t
        if (typ != 3 && typ != 4) return None
        if (cnt <= 0 || cnt > (1 << 20)) return None
        val unit = if (typ == 3) 2 else 4
        val inline = cnt * unit <= 4
        val base = if (inline) fld.toLong else u32(bytes, fld, le)
        if (base < 0 || base + cnt * unit > bytes.length) return None
        Some(Array.tabulate(cnt.toInt)(j =>
          if (typ == 3) u16(bytes, (base + 2L * j).toInt, le).toLong
          else u32(bytes, (base + 4L * j).toInt, le)))
      }
      val offs = longArray(stripOffTag).getOrElse(return None)
      val cnts = longArray(stripCntTag).getOrElse(return None)
      if (offs.length != cnts.length) return None
      // palette: 3 planes of 2^bits 16-bit values (R then G then B)
      val palette: Array[Byte] = if (photo == 3) {
        val (typ, cnt, fld) = colorMapTag
        if (typ != 3 || cnt != 768) return None
        val base = u32(bytes, fld, le)
        if (base < 0 || base + 2 * cnt > bytes.length) return None
        val p = new Array[Byte](768)
        var j = 0
        while (j < 256) {
          p(j * 3) = (u16(bytes, (base + 2L * j).toInt, le) >> 8).toByte
          p(j * 3 + 1) = (u16(bytes, (base + 2L * (256 + j)).toInt, le) >> 8).toByte
          p(j * 3 + 2) = (u16(bytes, (base + 2L * (512 + j)).toInt, le) >> 8).toByte
          j += 1
        }
        p
      } else null
      val wi = w.toInt; val hi = h.toInt
      val sppI = spp.toInt
      val rowBytes = wi * sppI
      val raw = new Array[Byte](rowBytes * hi)
      val rpsI = math.min(rps, h).toInt
      val nStrips = (hi + rpsI - 1) / rpsI
      if (offs.length < nStrips) return None
      var strip = 0
      var outPos = 0
      while (strip < nStrips) {
        val rows = math.min(rpsI, hi - strip * rpsI)
        val need = rows * rowBytes
        val so = offs(strip); val sc = cnts(strip)
        if (so < 0 || sc < 0 || so + sc > bytes.length) return None
        if (comp == 1) {
          if (sc < need) return None
          System.arraycopy(bytes, so.toInt, raw, outPos, need)
        } else {
          // PackBits: n in [0,127] → copy n+1 literals; n in [-127,-1] →
          // repeat next byte 1−n times; −128 is a no-op
          var p = so.toInt; val end = (so + sc).toInt
          var o = outPos; val lim = outPos + need
          while (o < lim) {
            if (p >= end) return None
            val c = bytes(p); p += 1
            if (c >= 0) {
              val len = c + 1
              if (p + len > end || o + len > lim) return None
              System.arraycopy(bytes, p, raw, o, len)
              p += len; o += len
            } else if (c != -128) {
              val len = 1 - c
              if (p >= end || o + len > lim) return None
              java.util.Arrays.fill(raw, o, o + len, bytes(p))
              p += 1; o += len
            }
          }
        }
        outPos += need
        strip += 1
      }
      // normalize to the (w, h, ch, px) contract
      if (photo == 2) {
        if (sppI == 3) Some((wi, hi, 3, raw))
        else { // strip extra samples (alpha etc.)
          val px = new Array[Byte](wi * hi * 3)
          var j = 0
          while (j < wi * hi) {
            px(j * 3) = raw(j * sppI); px(j * 3 + 1) = raw(j * sppI + 1)
            px(j * 3 + 2) = raw(j * sppI + 2)
            j += 1
          }
          Some((wi, hi, 3, px))
        }
      } else if (photo == 3) {
        val px = new Array[Byte](wi * hi * 3)
        var j = 0
        while (j < wi * hi) {
          val idx = (raw(j) & 0xff) * 3
          px(j * 3) = palette(idx); px(j * 3 + 1) = palette(idx + 1)
          px(j * 3 + 2) = palette(idx + 2)
          j += 1
        }
        Some((wi, hi, 3, px))
      } else if (photo == 0) {
        val px = new Array[Byte](wi * hi)
        var j = 0
        while (j < wi * hi) { px(j) = (255 - (raw(j) & 0xff)).toByte; j += 1 }
        Some((wi, hi, 1, px))
      } else Some((wi, hi, 1, raw))
    }

    /** Minimal real gray encoder in two byte-disjoint profiles (the
      * house discipline): 0 = little-endian (`II`), single
      * uncompressed strip, photometric BlackIsZero; 1 = BIG-endian
      * (`MM`), PackBits-compressed 4-row strips, photometric
      * WhiteIsZero over INVERTED samples (255−v on the wire, inverted
      * back by photometric 0 decode — the TIFF twin of the reversed
      * GIF/BMP palettes: the stored sample plane differs from the luma
      * plane everywhere while staying pixel-lossless). */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} pixels, got ${pixels.length}")
      require(profile == 0 || profile == 1, s"profile $profile")
      val le = profile == 0
      val out = new java.io.ByteArrayOutputStream()
      // pixel payload first (strips start at offset 8, IFD follows)
      val strips: Seq[Array[Byte]] =
        if (profile == 0) Seq(java.util.Arrays.copyOf(pixels, w * h))
        else (0 until h by 4).map { y0 =>
          val rows = math.min(4, h - y0)
          val body = new java.io.ByteArrayOutputStream()
          var j = y0 * w; val end = (y0 + rows) * w
          while (j < end) { // PackBits: maximal ≤128 runs, literals otherwise
            val v = (255 - (pixels(j) & 0xff)).toByte
            var run = 1
            while (j + run < end && run < 128 &&
              (255 - (pixels(j + run) & 0xff)).toByte == v) run += 1
            if (run >= 2) { body.write(1 - run); body.write(v); j += run }
            else {
              var lit = 1 // scan forward to the next ≥2-run or 128 cap
              while (j + lit < end && lit < 128 &&
                !(j + lit + 1 < end &&
                  pixels(j + lit) == pixels(j + lit + 1))) lit += 1
              body.write(lit - 1)
              var k = 0
              while (k < lit) { body.write(255 - (pixels(j + k) & 0xff)); k += 1 }
              j += lit
            }
          }
          body.toByteArray
        }
      out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
      put16(out, 42, le)
      val dataStart = 8
      val dataLen = strips.map(_.length).sum
      val nStrips = strips.length
      // after pixel data: strip offset/count arrays when nStrips > 2
      // (SHORT/LONG arrays over 4 bytes go through an offset)
      val stripOffs = strips.scanLeft(dataStart)(_ + _.length).init
      val arraysAt = dataStart + dataLen
      val needArrays = nStrips > 1
      val ifdAt = arraysAt + (if (needArrays) 8 * nStrips else 0)
      put32(out, ifdAt, le)
      strips.foreach(s => out.write(s, 0, s.length))
      if (needArrays) { // LONG strip offsets, then LONG byte counts
        stripOffs.foreach(put32(out, _, le))
        strips.foreach(s => put32(out, s.length, le))
      }
      val entries = Seq[(Int, Int, Int, Int)](
        (256, 4, 1, w),                         // ImageWidth
        (257, 4, 1, h),                         // ImageLength
        (258, 3, 1, 8),                         // BitsPerSample
        (259, 3, 1, if (profile == 0) 1 else 32773), // Compression
        (262, 3, 1, if (profile == 0) 1 else 0), // Photometric
        (273, 4, nStrips, if (needArrays) arraysAt else dataStart),
        (277, 3, 1, 1),                         // SamplesPerPixel
        (278, 4, 1, if (profile == 0) h else 4), // RowsPerStrip
        (279, 4, nStrips,
          if (needArrays) arraysAt + 4 * nStrips else dataLen))
      put16(out, entries.length, le)
      entries.foreach { case (tag, typ, cnt, v) =>
        put16(out, tag, le); put16(out, typ, le); put32(out, cnt, le)
        if (typ == 3 && cnt == 1) { put16(out, v, le); put16(out, 0, le) }
        else put32(out, v, le)
      }
      put32(out, 0, le) // no next IFD
      out.toByteArray
    }
  }

  /** Truevision TGA decoder — pure JVM, zero codec libraries (r16; the
    * stills family's magic-less member). Wire format is public (TGA
    * 1.0/2.0 spec): 18-byte header, optional image-ID field, optional
    * BGR(A) color map with a first-entry offset, image types 1/2/3
    * (color-mapped / truecolor / grayscale) and their RLE twins
    * 9/10/11 (run + raw packets, which MAY cross scan lines), 8-bit
    * indices, 24/32-bit BGR(A), bottom-up AND top-down row order
    * (descriptor bit 5). TGA has NO magic number, so the header walk
    * is deliberately strict — color-map/type/depth consistency,
    * reserved descriptor bits zero, exact payload length for
    * uncompressed — and this decoder runs LAST in [[decodeLumaAny]],
    * after every magic-bearing format has had its chance. 15/16-bit
    * pixels, right-to-left rows (descriptor bit 4), and the legacy
    * interleave bits return None; malformation is None, never a
    * throw, same as every decoder here. */
  object TgaCodec extends PixelCodec {

    private val MaxPixels = 1 << 26

    /** (w, h, channels ∈ {1, 3}, channel-interleaved pixel bytes) with
      * palette indices resolved, rows in top-down raster order. */
    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 18) return None
      val idLen = u8(bytes, 0)
      val cmType = u8(bytes, 1)
      val imgType = u8(bytes, 2)
      if (cmType > 1) return None
      val base = imgType & 7
      val rle = (imgType & 8) != 0
      if ((imgType & ~15) != 0 || base < 1 || base > 3) return None
      val cmFirst = le16(bytes, 3); val cmLen = le16(bytes, 5); val cmBits = u8(bytes, 7)
      val w = le16(bytes, 12); val h = le16(bytes, 14)
      val depth = u8(bytes, 16); val desc = u8(bytes, 17)
      // bit 4 right-to-left, bits 6–7 legacy interleave: refuse; these
      // zero-checks also harden the magic-less format detection
      if ((desc & 0xd0) != 0) return None
      val topDown = (desc & 0x20) != 0
      if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
      base match {
        case 1 => if (cmType != 1 || depth != 8 || cmLen == 0) return None
        case 2 => if (depth != 24 && depth != 32) return None
        case 3 => if (depth != 8) return None
      }
      // spec: no color map ⇒ the length field is zero (types 2/3 MAY
      // carry a developer palette, but only when cmType says so); any
      // present map must be 24/32-bit and fit 8-bit indices — checked
      // for EVERY image type, or a hostile map on a truecolor header
      // would escape the palette bounds
      if (cmType == 0 && (cmLen != 0 || cmBits != 0)) return None
      if (cmType == 1 && ((cmBits != 24 && cmBits != 32) ||
        cmLen == 0 || cmFirst + cmLen > 256)) return None
      var pos = 18 + idLen
      val palette: Array[Byte] = if (cmType == 1) {
        val entryBytes = cmBits / 8
        if (pos + cmLen * entryBytes > bytes.length) return None
        val p = new Array[Byte](768) // entries outside [first, first+len) stay 0
        var j = 0
        while (j < cmLen) {
          val s = pos + j * entryBytes // BGR(A) on the wire
          val o = (cmFirst + j) * 3
          p(o) = bytes(s + 2); p(o + 1) = bytes(s + 1); p(o + 2) = bytes(s)
          j += 1
        }
        pos += cmLen * entryBytes
        p
      } else null
      val bpp = depth / 8
      val ch = if (base == 3) 1 else 3
      if (!rle) {
        // exact-length check — part of the strict magic-less accept
        if (pos.toLong + w.toLong * h * bpp > bytes.length) return None
      } else {
        // a run packet encodes ≤128 px per (1 + bpp) bytes — refuse a
        // header whose pixel count the payload cannot carry BEFORE the
        // canvas allocation
        if (w.toLong * h > 128L * math.max(0, bytes.length - pos)) return None
      }
      val px = new Array[Byte](w * h * ch)
      // write one source pixel (at src, file scan order position p)
      // into the raster-order output
      def emit(p: Int, src: Int): Unit = {
        val row = p / w; val col = p - row * w
        val outRow = if (topDown) row else h - 1 - row
        val o = (outRow * w + col) * ch
        if (base == 3) px(o) = bytes(src)
        else if (base == 2) {
          px(o) = bytes(src + 2); px(o + 1) = bytes(src + 1); px(o + 2) = bytes(src)
        } else {
          val idx = (bytes(src) & 0xff) * 3
          px(o) = palette(idx); px(o + 1) = palette(idx + 1); px(o + 2) = palette(idx + 2)
        }
      }
      val total = w * h
      if (!rle) {
        var p = 0
        while (p < total) { emit(p, pos + p * bpp); p += 1 }
      } else {
        var p = 0
        while (p < total) {
          if (pos >= bytes.length) return None
          val hdr = bytes(pos) & 0xff
          pos += 1
          val n = (hdr & 0x7f) + 1
          if (p + n > total) return None // packet past image end
          if ((hdr & 0x80) != 0) { // run: one pixel value repeated
            if (pos + bpp > bytes.length) return None
            var k = 0
            while (k < n) { emit(p + k, pos); k += 1 }
            pos += bpp
          } else { // raw: n literal pixels
            if (pos + n * bpp > bytes.length) return None
            var k = 0
            while (k < n) { emit(p + k, pos + k * bpp); k += 1 }
            pos += n * bpp
          }
          p += n
        }
      }
      Some((w, h, ch, px))
    }

    /** Minimal real gray encoder in two byte-disjoint profiles (the
      * GifCodec discipline): 0 = type 3 (uncompressed grayscale),
      * bottom-up, no ID field; 1 = type 9 (RLE color-mapped),
      * TOP-DOWN (descriptor bit 5), a REVERSED 24-bit palette (entry
      * j → 255−j, pixel index 255−v — the stored index plane differs
      * from the luma bytes everywhere), a non-empty image-ID field
      * (exercises the skip), and real run-length packets (maximal
      * ≤128 runs, raw packets between). Both profiles are
      * pixel-lossless on gray, so a TGA trans-code of a corpus is
      * hash-invariant — the q159-pin gate design. */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} pixels, got ${pixels.length}")
      require(profile == 0 || profile == 1, s"profile $profile")
      require(w > 0 && w < 65536 && h > 0 && h < 65536, s"${w}x$h out of TGA range")
      val out = new java.io.ByteArrayOutputStream()
      val id = if (profile == 1) "graft-tga".getBytes("US-ASCII") else Array.empty[Byte]
      out.write(id.length)                      // idLength
      out.write(if (profile == 0) 0 else 1)     // colorMapType
      out.write(if (profile == 0) 3 else 9)     // imageType
      putLe16(out, 0)                           // colorMapFirstEntry
      putLe16(out, if (profile == 0) 0 else 256) // colorMapLength
      out.write(if (profile == 0) 0 else 24)    // colorMapEntrySize
      putLe16(out, 0); putLe16(out, 0)          // x/y origin
      putLe16(out, w); putLe16(out, h)
      out.write(8)                              // pixelDepth
      out.write(if (profile == 0) 0 else 0x20)  // descriptor (bit 5 = top-down)
      out.write(id, 0, id.length)
      if (profile == 1) { // reversed gray palette, BGR triples
        var j = 0
        while (j < 256) { val g = 255 - j; out.write(g); out.write(g); out.write(g); j += 1 }
      }
      if (profile == 0) {
        var row = h - 1
        while (row >= 0) { out.write(pixels, row * w, w); row -= 1 }
      } else {
        // RLE over the top-down index plane (index = 255 − v); packets
        // honor the classic no-row-crossing convention our hand-built
        // spec streams then deliberately violate
        var row = 0
        while (row < h) {
          var x = 0
          while (x < w) {
            val v = 255 - (pixels(row * w + x) & 0xff)
            var run = 1
            while (x + run < w && run < 128 &&
              (255 - (pixels(row * w + x + run) & 0xff)) == v) run += 1
            if (run >= 2) { out.write(0x80 | (run - 1)); out.write(v); x += run }
            else {
              var lit = 1 // literal stretch up to the next ≥2-run
              while (x + lit < w && lit < 128 &&
                !(x + lit + 1 < w &&
                  pixels(row * w + x + lit) == pixels(row * w + x + lit + 1))) lit += 1
              out.write(lit - 1)
              var k = 0
              while (k < lit) { out.write(255 - (pixels(row * w + x + k) & 0xff)); k += 1 }
              x += lit
            }
          }
          row += 1
        }
      }
      out.toByteArray
    }
  }

  /** Windows icon (ICO) decoder — pure JVM, zero codec libraries (r16;
    * the container face of the stills family). Wire format is public
    * (ICONDIR + ICONDIRENTRY): a 6-byte directory header, 16-byte
    * entries (width/height bytes where 0 means 256), and per-entry
    * payloads that are EITHER a complete PNG stream (Vista+) — routed
    * through [[PngCodec]] — or a BMP DIB with NO file header whose
    * biHeight is DOUBLED to cover the XOR color plane plus the 1-bit
    * AND transparency mask. Decode picks the largest entry by pixel
    * area (ties → first), resolves 8-bit palette / 24-bit BGR /
    * 32-bit BGRx XOR planes (4-byte-padded rows, bottom-up), then
    * applies the AND mask by compositing transparent pixels to black —
    * the same on-black compositing choice as the GIF path. CUR files
    * (type 2), BI_RLE inside icons, and 1/4-bit planes return None;
    * malformation is None, never a throw. */
  object IcoCodec extends PixelCodec {

    private val MaxPixels = 1 << 26

    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 6 + 16) return None
      if (le16(bytes, 0) != 0 || le16(bytes, 2) != 1) return None // reserved, type ICO
      val count = le16(bytes, 4)
      if (count < 1 || 6 + 16 * count > bytes.length) return None
      // largest entry by area, ties to the first — the "best" icon
      var best = -1; var bestArea = -1L
      var i = 0
      while (i < count) {
        val e = 6 + 16 * i
        val ew = if (u8(bytes, e) == 0) 256 else u8(bytes, e)
        val eh = if (u8(bytes, e + 1) == 0) 256 else u8(bytes, e + 1)
        val area = ew.toLong * eh
        if (area > bestArea) { best = i; bestArea = area }
        i += 1
      }
      val e = 6 + 16 * best
      val size = le32u(bytes, e + 8); val off = le32u(bytes, e + 12)
      if (off < 6 + 16L * count || size < 16 ||
        off + size > bytes.length) return None
      val p0 = off.toInt; val pLen = size.toInt
      // PNG payload (Vista+): a complete PNG stream starts here
      if (pLen >= 8 && (bytes(p0) & 0xff) == 0x89 && bytes(p0 + 1) == 'P' &&
        bytes(p0 + 2) == 'N' && bytes(p0 + 3) == 'G')
        return PngCodec.decodePixels(
          java.util.Arrays.copyOfRange(bytes, p0, p0 + pLen))
      // BMP DIB payload: BITMAPINFOHEADER, biHeight doubled for the mask
      if (pLen < 40 || le32(bytes, p0) != 40) return None
      val w = le32(bytes, p0 + 4)
      val h2 = le32(bytes, p0 + 8)
      if (w <= 0 || h2 <= 0 || (h2 & 1) != 0) return None
      val h = h2 / 2
      if (w.toLong * h > MaxPixels) return None
      if (le16(bytes, p0 + 12) != 1) return None // planes
      val bpp = le16(bytes, p0 + 14)
      if (bpp != 8 && bpp != 24 && bpp != 32) return None
      if (le32(bytes, p0 + 16) != 0) return None // BI_RGB only inside icons
      val used0 = le32(bytes, p0 + 32)
      val palette: Array[Byte] = if (bpp == 8) {
        val used = if (used0 == 0) 256 else used0
        if (used < 1 || used > 256 || 40 + 4 * used > pLen) return None
        val p = new Array[Byte](768)
        var j = 0
        while (j < used) {
          val s = p0 + 40 + j * 4
          p(j * 3) = bytes(s + 2); p(j * 3 + 1) = bytes(s + 1); p(j * 3 + 2) = bytes(s)
          j += 1
        }
        p
      } else null
      val xorAt = 40 + (if (bpp == 8) 4 * (if (used0 == 0) 256 else used0) else 0)
      val xorStride = (w * (bpp / 8) + 3) & ~3
      val andStride = ((w + 31) / 32) * 4 // 1-bpp rows, 4-byte aligned
      val andAt = xorAt + xorStride * h
      if (andAt.toLong + andStride.toLong * h > pLen) return None
      val px = new Array[Byte](w * h * 3)
      var row = 0
      while (row < h) {
        val srcRow = h - 1 - row // XOR and AND planes are bottom-up
        val src = p0 + xorAt + srcRow * xorStride
        val maskRow = p0 + andAt + srcRow * andStride
        var x = 0
        while (x < w) {
          val o = (row * w + x) * 3
          val transparent =
            ((bytes(maskRow + (x >> 3)) >> (7 - (x & 7))) & 1) != 0
          if (!transparent) {
            if (bpp == 8) {
              val idx = (bytes(src + x) & 0xff) * 3
              px(o) = palette(idx); px(o + 1) = palette(idx + 1); px(o + 2) = palette(idx + 2)
            } else {
              val s = src + x * (bpp / 8)
              px(o) = bytes(s + 2); px(o + 1) = bytes(s + 1); px(o + 2) = bytes(s)
            }
          } // else: composite on black — bytes already 0
          x += 1
        }
        row += 1
      }
      Some((w, h, 3, px))
    }

    /** Minimal real gray encoder in two byte-disjoint profiles: 0 = a
      * single PNG-payload entry (the [[PngCodec]] sequential stream
      * wrapped in an icon directory — exercises the Vista+ branch);
      * 1 = a single BMP-DIB-payload entry with a REVERSED 8-bit gray
      * palette (entry j → 255−j, stored index 255−v), doubled
      * biHeight, bottom-up 4-byte-padded XOR rows, and an all-opaque
      * AND mask. Both are pixel-lossless on gray ⇒ an ICO trans-code
      * of a corpus is hash-invariant — the q159-pin gate design.
      * Icon directory entries cap dimensions at 256. */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(pixels.length >= w * h, s"need ${w * h} pixels, got ${pixels.length}")
      require(profile == 0 || profile == 1, s"profile $profile")
      require(w > 0 && w <= 256 && h > 0 && h <= 256, s"${w}x$h out of ICO range")
      val payload: Array[Byte] = if (profile == 0) {
        PngCodec.encodeGray(w, h, java.util.Arrays.copyOf(pixels, w * h))
      } else {
        val body = new java.io.ByteArrayOutputStream()
        val xorStride = (w + 3) & ~3
        val andStride = ((w + 31) / 32) * 4
        putLe32(body, 40); putLe32(body, w); putLe32(body, 2 * h) // doubled height
        putLe16(body, 1); putLe16(body, 8); putLe32(body, 0)
        Seq(xorStride * h + andStride * h,
          2835, 2835, 256, 0).foreach(putLe32(body, _))
        var j = 0 // reversed gray palette, BGRx quads
        while (j < 256) { val g = 255 - j; body.write(g); body.write(g); body.write(g); body.write(0); j += 1 }
        var row = h - 1 // XOR plane, bottom-up, index = 255 − v
        while (row >= 0) {
          var x = 0
          while (x < w) { body.write(255 - (pixels(row * w + x) & 0xff)); x += 1 }
          var pad = xorStride - w
          while (pad > 0) { body.write(0); pad -= 1 }
          row -= 1
        }
        var r = 0 // AND mask: all zero bits = fully opaque
        while (r < andStride * h) { body.write(0); r += 1 }
        body.toByteArray
      }
      val out = new java.io.ByteArrayOutputStream()
      putLe16(out, 0); putLe16(out, 1); putLe16(out, 1) // reserved, ICO, one entry
      out.write(if (w == 256) 0 else w); out.write(if (h == 256) 0 else h)
      out.write(0); out.write(0) // colorCount, reserved
      putLe16(out, 1); putLe16(out, 8) // planes, bpp (informational only)
      putLe32(out, payload.length); putLe32(out, 6 + 16) // size, offset
      out.write(payload, 0, payload.length)
      out.toByteArray
    }
  }

  /** Shared (w, h, channels, interleaved-bytes) → 8-dim feature
    * conversion (channel means, 2×2 luminance quadrants, aspect) — one
    * definition for every pixel decoder, so PNG/JPEG features cannot
    * drift from each other. maxval 255; BT.601 integer luma. */
  private[graft] def featuresOfPixels(w: Int, h: Int, ch: Int,
      px: Array[Byte]): (Int, Int, Array[Float]) = {
    var rSum = 0L; var gSum = 0L; var bSum = 0L
    val quadLuma = new Array[Long](4)
    val quadN = new Array[Long](4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val off = (y * w + x) * ch
        val r = px(off) & 0xff
        val g = if (ch == 3) px(off + 1) & 0xff else r
        val b = if (ch == 3) px(off + 2) & 0xff else r
        rSum += r; gSum += g; bSum += b
        val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
        quadLuma(q) += (r * 299L + g * 587L + b * 114L) / 1000L
        quadN(q) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val m = 255f
    (w, h, Array(
      rSum.toFloat / n / m, gSum.toFloat / n / m, bSum.toFloat / n / m,
      if (quadN(0) > 0) quadLuma(0).toFloat / quadN(0) / m else 0f,
      if (quadN(1) > 0) quadLuma(1).toFloat / quadN(1) / m else 0f,
      if (quadN(2) > 0) quadLuma(2).toFloat / quadN(2) / m else 0f,
      if (quadN(3) > 0) quadLuma(3).toFloat / quadN(3) / m else 0f,
      w.toFloat / (w + h)))
  }

  /** Shared (w, h, channels, bytes) → integer luminance plane (BT.601
    * integer weights, floor division) — the decodeLuma contract. */
  private[graft] def lumaOfPixels(w: Int, h: Int, ch: Int,
      px: Array[Byte]): (Int, Int, Array[Int]) = {
    val luma = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      val off = i * ch
      val r = px(off) & 0xff
      val g = if (ch == 3) px(off + 1) & 0xff else r
      val b = if (ch == 3) px(off + 2) & 0xff else r
      luma(i) = ((r * 299L + g * 587L + b * 114L) / 1000L).toInt
      i += 1
    }
    (w, h, luma)
  }

  /** JFIF JPEG decoder — pure JVM, zero codec libraries (the PngCodec
    * discipline applied to the remaining major web format): marker
    * walk, DQT/DHT/SOF0/SOF2/DRI/SOS, canonical Huffman entropy decode
    * with byte-stuffing and restart markers, dequantization, exact
    * double-precision 8×8 IDCT, chroma upsampling
    * (4:4:4/4:2:2/4:2:0 or any Hi,Vi ≤ 4), integer BT.601 YCbCr→RGB.
    * Baseline sequential AND progressive (SOF2, since r13: spectral
    * selection + successive approximation, per-component coefficient
    * buffers folded across scans with EOBRUN/correction-bit
    * refinement — T.81 §G; MultimodalSpec pins the same ≤ 3-grey-level
    * ImageIO parity as baseline plus the baseline-vs-progressive dHash
    * container-invariance). Arithmetic coding, 12-bit, and
    * hierarchical frames return None — rare in training corpora, they
    * belong to a codec library.
    *
    * Robustness contract: adversarial input — truncated segments, bad
    * Huffman tables, missing quant tables, crafted dimensions, scan
    * data running out mid-MCU — yields None, never a crash or an
    * unbounded allocation (pixel count capped at 2²⁴, sampling factors
    * at 4). Determinism: the IDCT is fixed-order double arithmetic on
    * every JVM (no platform SIMD paths), so decoded pixels are
    * byte-identical across machines — decode results can sit in golden
    * pins exactly like PNM/PNG. */
  object JpegCodec extends PixelCodec {

    private val MaxPixels = 1 << 24 // 16M px — far above any test asset

    /** Canonical Huffman table (JPEG spec F.2.2.3 DECODE procedure). */
    private final class Huff(bits: Array[Int], val vals: Array[Byte]) {
      val minCode = new Array[Int](17)
      val maxCode = new Array[Int](17)
      val valPtr = new Array[Int](17)
      locally {
        var code = 0
        var k = 0
        var l = 1
        while (l <= 16) {
          valPtr(l) = k
          minCode(l) = code
          maxCode(l) = if (bits(l - 1) > 0) code + bits(l - 1) - 1 else -1
          code += bits(l - 1)
          k += bits(l - 1)
          code <<= 1
          l += 1
        }
      }
    }

    /** MSB-first bit reader over the entropy-coded segment: 0xFF00
      * unstuffs to 0xFF; any other marker ends the segment (pos stays
      * ON the 0xFF so the caller can inspect it). -1 = out of bits. */
    private final class BitReader(bytes: Array[Byte]) {
      var pos = 0
      private var bitBuf = 0
      private var bitCnt = 0
      def nextBit(): Int = {
        if (bitCnt == 0) {
          if (pos >= bytes.length) return -1
          var b = bytes(pos) & 0xff
          if (b == 0xff) {
            val b2 = if (pos + 1 < bytes.length) bytes(pos + 1) & 0xff else -1
            if (b2 == 0x00) { pos += 2; b = 0xff }
            else return -1 // a real marker: entropy data ends here
          } else pos += 1
          bitBuf = b; bitCnt = 8
        }
        bitCnt -= 1
        (bitBuf >> bitCnt) & 1
      }
      def receive(n: Int): Int = {
        var v = 0
        var i = 0
        while (i < n) {
          val b = nextBit()
          if (b < 0) return -1
          v = (v << 1) | b
          i += 1
        }
        v
      }
      def decodeHuff(t: Huff): Int = {
        var code = 0
        var l = 1
        while (l <= 16) {
          val b = nextBit()
          if (b < 0) return -1
          code = (code << 1) | b
          if (code <= t.maxCode(l)) {
            val idx = t.valPtr(l) + code - t.minCode(l)
            if (idx < 0 || idx >= t.vals.length) return -1
            return t.vals(idx) & 0xff
          }
          l += 1
        }
        -1
      }
      /** Byte-align and consume an expected RSTn marker. */
      def restart(expected: Int): Boolean = {
        bitCnt = 0
        if (pos + 1 >= bytes.length) return false
        if ((bytes(pos) & 0xff) != 0xff ||
            (bytes(pos + 1) & 0xff) != (0xd0 + expected)) return false
        pos += 2
        true
      }
    }

    private val ZigZag: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

    // cos((2x+1)·u·π/16) with the 1/√2 DC normalization folded in
    private val CosT: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / 16) *
        (if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
    }

    /** 8×8 inverse DCT (natural-order coefficients in, spatial out),
      * separable two-pass double arithmetic, fixed summation order. */
    private def idct(coef: Array[Double], out: Array[Int]): Unit = {
      val tmp = new Array[Double](64)
      var x = 0
      while (x < 8) { // columns: tmp(v, x) = Σ_u c_u F(v,u) cos(x,u)
        var v = 0
        while (v < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) { s += coef(v * 8 + u) * CosT(x)(u); u += 1 }
          tmp(v * 8 + x) = s
          v += 1
        }
        x += 1
      }
      var y = 0
      while (y < 8) { // rows: out(y, x) = ¼ Σ_v c_v tmp(v,x) cos(y,v)
        x = 0
        while (x < 8) {
          var s = 0.0
          var v = 0
          while (v < 8) { s += tmp(v * 8 + x) * CosT(y)(v); v += 1 }
          val px = math.round(s / 4.0 + 128.0).toInt
          out(y * 8 + x) = if (px < 0) 0 else if (px > 255) 255 else px
          x += 1
        }
        y += 1
      }
    }

    /** (w, h, channels ∈ {1, 3}, channel-interleaved pixel bytes). */
    private[graft] def decodePixels(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      if (bytes.length < 4 ||
          (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
      // explicit checks guard every read below; the catch is the last
      // line of the never-crash contract against a missed corner, not
      // the primary mechanism
      try decodeChecked(bytes)
      catch {
        case _: ArrayIndexOutOfBoundsException => None
        case _: NegativeArraySizeException => None
      }
    }

    private def decodeChecked(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
      val n = bytes.length
      val qtab = new Array[Array[Int]](4)
      val dcTab = new Array[Huff](4)
      val acTab = new Array[Huff](4)
      var restartInterval = 0
      var w = 0; var h = 0; var nComp = 0
      val compId = new Array[Int](3)
      val compH = new Array[Int](3)
      val compV = new Array[Int](3)
      val compQ = new Array[Int](3)
      // progressive (SOF2) state: per-component zigzag-order coefficient
      // buffers accumulated across scans, finished at EOI
      var progressive = false
      var sawScan = false
      var hMaxP = 1; var vMaxP = 1
      var mcusXP = 0; var mcusYP = 0
      val coefBufs = new Array[Array[Int]](3)
      var pos = 2
      while (pos + 2 <= n) {
        if ((bytes(pos) & 0xff) != 0xff) return None
        var mPos = pos + 1
        while (mPos < n && (bytes(mPos) & 0xff) == 0xff) mPos += 1 // fill bytes
        if (mPos >= n) return None
        val marker = bytes(mPos) & 0xff
        pos = mPos + 1
        marker match {
          case 0xd9 =>
            if (progressive && sawScan)
              return finishProgressive(w, h, nComp, compH, compV,
                hMaxP, vMaxP, mcusXP, mcusYP, compQ, qtab, coefBufs)
            return None // EOI before any (completed) scan
          case m if m >= 0xd0 && m <= 0xd7 => // stray RST outside a scan
            return None
          case 0x01 => // TEM: standalone zero-payload marker (T.81 B.1.1.3)
            () // no length field — the default arm would misparse one
          case 0xdb => // DQT
            if (pos + 2 > n) return None
            val len = be16(bytes, pos); val end = pos + len
            if (len < 2 || end > n) return None
            var p = pos + 2
            while (p < end) {
              val pq = (bytes(p) & 0xff) >> 4
              val tq = bytes(p) & 0x0f
              if (pq > 1 || tq > 3) return None
              val entryBytes = if (pq == 0) 64 else 128
              if (p + 1 + entryBytes > end) return None
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(i) = if (pq == 0) bytes(p + 1 + i) & 0xff
                       else be16(bytes, p + 1 + 2 * i)
                i += 1
              }
              qtab(tq) = t
              p += 1 + entryBytes
            }
            pos = end
          case 0xc4 => // DHT
            if (pos + 2 > n) return None
            val len = be16(bytes, pos); val end = pos + len
            if (len < 2 || end > n) return None
            var p = pos + 2
            while (p < end) {
              val tc = (bytes(p) & 0xff) >> 4
              val th = bytes(p) & 0x0f
              if (tc > 1 || th > 3 || p + 17 > end) return None
              val bits = Array.tabulate(16)(i => bytes(p + 1 + i) & 0xff)
              val total = bits.sum
              if (total > 256 || p + 17 + total > end) return None
              val vals = java.util.Arrays.copyOfRange(bytes, p + 17, p + 17 + total)
              val t = new Huff(bits, vals)
              if (tc == 0) dcTab(th) = t else acTab(th) = t
              p += 17 + total
            }
            pos = end
          case m0 @ (0xc0 | 0xc2) => // SOF0 baseline / SOF2 progressive
            if (m0 == 0xc2) progressive = true
            if (pos + 2 > n) return None
            val len = be16(bytes, pos); val end = pos + len
            if (len < 8 || end > n) return None
            val precision = bytes(pos + 2) & 0xff
            h = be16(bytes, pos + 3); w = be16(bytes, pos + 5)
            nComp = bytes(pos + 7) & 0xff
            if (precision != 8 || w <= 0 || h <= 0 ||
                w.toLong * h > MaxPixels ||
                (nComp != 1 && nComp != 3) ||
                pos + 8 + 3 * nComp > end) return None
            var c = 0
            while (c < nComp) {
              compId(c) = bytes(pos + 8 + 3 * c) & 0xff
              val hv = bytes(pos + 9 + 3 * c) & 0xff
              compH(c) = hv >> 4; compV(c) = hv & 0x0f
              compQ(c) = bytes(pos + 10 + 3 * c) & 0xff
              if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 || compV(c) > 4 ||
                  compQ(c) > 3) return None
              c += 1
            }
            if (progressive) {
              c = 0
              while (c < nComp) {
                if (compH(c) > hMaxP) hMaxP = compH(c)
                if (compV(c) > vMaxP) vMaxP = compV(c)
                c += 1
              }
              mcusXP = (w + 8 * hMaxP - 1) / (8 * hMaxP)
              mcusYP = (h + 8 * vMaxP - 1) / (8 * vMaxP)
              c = 0
              while (c < nComp) {
                val cells = mcusXP.toLong * compH(c) * mcusYP * compV(c) * 64L
                if (cells > 4L * MaxPixels) return None
                coefBufs(c) = new Array[Int](cells.toInt)
                c += 1
              }
            }
            pos = end
          case m if (m >= 0xc1 && m <= 0xcf) && m != 0xc2 && m != 0xc4 && m != 0xc8 && m != 0xcc =>
            return None // extended/arithmetic/lossless frames
          case 0xdd => // DRI
            if (pos + 4 > n) return None
            if (be16(bytes, pos) != 4) return None
            restartInterval = be16(bytes, pos + 2)
            pos += 4
          case 0xda => // SOS — baseline: decode and finish; progressive:
            //              fold the scan into the coefficient state
            if (w == 0 || nComp == 0) return None
            if (pos + 2 > n) return None
            val len = be16(bytes, pos); val end = pos + len
            if (len < 3 || end > n) return None
            val ns = bytes(pos + 2) & 0xff
            if (ns < 1 || (if (progressive) ns > nComp else ns != nComp) ||
                pos + 3 + 2 * ns + 3 > end) return None
            val scanComp = new Array[Int](ns)
            val compDc = new Array[Int](3)
            val compAc = new Array[Int](3)
            var c = 0
            while (c < ns) {
              val cs = bytes(pos + 3 + 2 * c) & 0xff
              val ci = compId.indexOf(cs)
              if (ci < 0 || ci >= nComp) return None
              scanComp(c) = ci
              compDc(ci) = (bytes(pos + 4 + 2 * c) & 0xff) >> 4
              compAc(ci) = bytes(pos + 4 + 2 * c) & 0x0f
              if (compDc(ci) > 3 || compAc(ci) > 3) return None
              c += 1
            }
            if (!progressive)
              return decodeScan(bytes, end, w, h, nComp, compH, compV, compQ,
                compDc, compAc, qtab, dcTab, acTab, restartInterval)
            val ss = bytes(pos + 3 + 2 * ns) & 0xff
            val se = bytes(pos + 4 + 2 * ns) & 0xff
            val ahal = bytes(pos + 5 + 2 * ns) & 0xff
            val ah = ahal >> 4; val al = ahal & 0x0f
            if (ss > 63 || se > 63 || se < ss || ah > 13 || al > 13 ||
                (ss == 0 && se != 0) || (ss > 0 && ns != 1)) return None
            val consumed = progressiveScan(bytes, end, ns, scanComp,
              w, h, compH, compV, hMaxP, vMaxP, mcusXP, mcusYP,
              compDc, compAc, dcTab, acTab, restartInterval,
              ss, se, ah, al, coefBufs)
            if (consumed < 0) return None
            sawScan = true
            // locate the next marker after the entropy-coded data
            var p = consumed
            var found = -1
            while (found < 0 && p + 1 < n) {
              if ((bytes(p) & 0xff) == 0xff) {
                val b2 = bytes(p + 1) & 0xff
                if (b2 == 0x00) p += 2
                else if (b2 >= 0xd0 && b2 <= 0xd7) p += 2
                else found = p
              } else p += 1
            }
            if (found < 0) return None
            pos = found
          case _ => // APPn / COM / anything with a length — skip
            if (pos + 2 > n) return None
            val len = be16(bytes, pos)
            if (len < 2 || pos + len > n) return None
            pos += len
        }
      }
      None
    }

    /** One progressive scan (T.81 §G.2): folds its entropy-coded data
      * into the per-component zigzag coefficient buffers and returns the
      * absolute position after the data (−1 = malformed). DC scans may
      * be interleaved; AC scans are single-component by spec (enforced
      * by the caller). First scans (Ah = 0) Huffman-decode magnitudes at
      * point transform Al; refinement scans (Ah > 0) append one
      * correction bit per coefficient, with libjpeg's EOBRUN semantics
      * persisting across blocks and resetting at restart markers. */
    private def progressiveScan(bytes: Array[Byte], scanStart: Int,
        ns: Int, scanComp: Array[Int], w: Int, h: Int,
        compH: Array[Int], compV: Array[Int], hMax: Int, vMax: Int,
        mcusX: Int, mcusY: Int,
        compDc: Array[Int], compAc: Array[Int],
        dcTab: Array[Huff], acTab: Array[Huff], restartInterval: Int,
        ss: Int, se: Int, ah: Int, al: Int,
        coefBufs: Array[Array[Int]]): Int = {
      val br = new BitReader(
        java.util.Arrays.copyOfRange(bytes, scanStart, bytes.length))
      val dcPred = new Array[Int](3)
      var eobrun = 0
      var rstCount = 0
      var unitsSinceRestart = 0
      val p1 = 1 << al

      def extend(v: Int, t: Int): Int =
        if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

      def maybeRestart(): Boolean = {
        if (restartInterval > 0 && unitsSinceRestart == restartInterval) {
          if (!br.restart(rstCount % 8)) return false
          rstCount += 1
          unitsSinceRestart = 0
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }
        true
      }

      // decode one block's worth of this scan for component ci at block
      // buffer index b (zigzag storage); returns false on malformed data
      def blockDc(ci: Int, b: Int): Boolean = {
        val buf = coefBufs(ci)
        if (ah == 0) {
          val t = dcTab(compDc(ci))
          if (t == null) return false
          val tDc = br.decodeHuff(t)
          if (tDc < 0 || tDc > 11) return false
          val diffBits = if (tDc == 0) 0 else br.receive(tDc)
          if (diffBits < 0) return false
          dcPred(ci) += extend(diffBits, tDc)
          buf(b * 64) = dcPred(ci) << al
        } else {
          val bit = br.nextBit()
          if (bit < 0) return false
          if (bit == 1) buf(b * 64) |= p1
        }
        true
      }

      def blockAcFirst(ci: Int, b: Int): Boolean = {
        val buf = coefBufs(ci)
        if (eobrun > 0) { eobrun -= 1; return true }
        val t = acTab(compAc(ci))
        if (t == null) return false
        var k = ss
        while (k <= se) {
          val rs = br.decodeHuff(t)
          if (rs < 0) return false
          val r = rs >> 4; val sBits = rs & 0x0f
          if (sBits == 0) {
            if (r < 15) {
              eobrun = (1 << r) - 1
              if (r > 0) {
                val ext = br.receive(r)
                if (ext < 0) return false
                eobrun += ext
              }
              return true
            }
            k += 16 // ZRL
          } else {
            k += r
            if (k > se) return false
            val vBits = br.receive(sBits)
            if (vBits < 0) return false
            buf(b * 64 + k) = extend(vBits, sBits) << al
            k += 1
          }
        }
        true
      }

      def refineNonzero(buf: Array[Int], idx: Int): Boolean = {
        val bit = br.nextBit()
        if (bit < 0) return false
        if (bit == 1 && (buf(idx) & p1) == 0)
          buf(idx) += (if (buf(idx) >= 0) p1 else -p1)
        true
      }

      def blockAcRefine(ci: Int, b: Int): Boolean = {
        val buf = coefBufs(ci)
        val t = acTab(compAc(ci))
        var k = ss
        if (eobrun == 0) {
          var brk = false
          while (k <= se && !brk) {
            if (t == null) return false
            val rs = br.decodeHuff(t)
            if (rs < 0) return false
            var r = rs >> 4; val sBits = rs & 0x0f
            var insert = 0
            if (sBits == 0) {
              if (r < 15) {
                eobrun = 1 << r
                if (r > 0) {
                  val ext = br.receive(r)
                  if (ext < 0) return false
                  eobrun += ext
                }
                brk = true
              }
              // r == 15: skip 16 zero-history positions with corrections
            } else {
              if (sBits != 1) return false
              val bit = br.nextBit()
              if (bit < 0) return false
              insert = if (bit == 1) p1 else -p1
            }
            if (!brk) {
              var advanced = false
              while (k <= se && !advanced) {
                val idx = b * 64 + k
                if (buf(idx) != 0) {
                  if (!refineNonzero(buf, idx)) return false
                } else {
                  if (r == 0) {
                    if (insert != 0) buf(idx) = insert
                    k += 1
                    advanced = true
                  } else r -= 1
                }
                if (!advanced) k += 1
              }
              if (!advanced && insert != 0) return false // ran off the band
            }
          }
        }
        if (eobrun > 0) {
          while (k <= se) {
            val idx = b * 64 + k
            if (buf(idx) != 0) { if (!refineNonzero(buf, idx)) return false }
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      def doBlock(ci: Int, b: Int): Boolean =
        if (ss == 0) blockDc(ci, b)
        else if (ah == 0) blockAcFirst(ci, b)
        else blockAcRefine(ci, b)

      if (ns > 1) {
        // interleaved (DC scans only): full MCU walk
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            if (!maybeRestart()) return -1
            var sc = 0
            while (sc < ns) {
              val ci = scanComp(sc)
              val bw = mcusX * compH(ci)
              var by = 0
              while (by < compV(ci)) {
                var bx = 0
                while (bx < compH(ci)) {
                  val b = (my * compV(ci) + by) * bw + (mx * compH(ci) + bx)
                  if (!doBlock(ci, b)) return -1
                  bx += 1
                }
                by += 1
              }
              sc += 1
            }
            unitsSinceRestart += 1
            mx += 1
          }
          my += 1
        }
      } else {
        // non-interleaved: the component's own (unpadded) block grid,
        // written into the MCU-padded buffer row stride
        val ci = scanComp(0)
        val bw = mcusX * compH(ci)
        val cw = (w * compH(ci) + hMax - 1) / hMax
        val ch = (h * compV(ci) + vMax - 1) / vMax
        val bx2 = (cw + 7) / 8
        val by2 = (ch + 7) / 8
        var by = 0
        while (by < by2) {
          var bx = 0
          while (bx < bx2) {
            if (!maybeRestart()) return -1
            if (!doBlock(ci, by * bw + bx)) return -1
            unitsSinceRestart += 1
            bx += 1
          }
          by += 1
        }
      }
      scanStart + br.pos
    }

    /** Dequantize + IDCT the accumulated progressive coefficients into
      * component planes and hand off to the shared [[assemble]] tail. */
    private def finishProgressive(w: Int, h: Int, nComp: Int,
        compH: Array[Int], compV: Array[Int], hMax: Int, vMax: Int,
        mcusX: Int, mcusY: Int, compQ: Array[Int],
        qtab: Array[Array[Int]], coefBufs: Array[Array[Int]])
        : Option[(Int, Int, Int, Array[Byte])] = {
      val planeW = new Array[Int](3)
      val planeH = new Array[Int](3)
      val planes = new Array[Array[Byte]](3)
      val coef = new Array[Double](64)
      val block = new Array[Int](64)
      var c = 0
      while (c < nComp) {
        if (qtab(compQ(c)) == null || coefBufs(c) == null) return None
        val q = qtab(compQ(c))
        planeW(c) = mcusX * compH(c) * 8
        planeH(c) = mcusY * compV(c) * 8
        if (planeW(c).toLong * planeH(c) > 4L * MaxPixels) return None
        planes(c) = new Array[Byte](planeW(c) * planeH(c))
        val buf = coefBufs(c)
        val bw = mcusX * compH(c)
        val bh = mcusY * compV(c)
        var byi = 0
        while (byi < bh) {
          var bxi = 0
          while (bxi < bw) {
            val b = byi * bw + bxi
            java.util.Arrays.fill(coef, 0.0)
            var k = 0
            while (k < 64) {
              val v = buf(b * 64 + k)
              if (v != 0) coef(ZigZag(k)) = v.toDouble * q(k)
              k += 1
            }
            // the DC zero case still needs its quantized value (v = 0
            // contributes 0.0 — already filled)
            idct(coef, block)
            val ox = bxi * 8
            val oy = byi * 8
            var yy = 0
            while (yy < 8) {
              val rowOff = (oy + yy) * planeW(c) + ox
              var xx = 0
              while (xx < 8) {
                planes(c)(rowOff + xx) = block(yy * 8 + xx).toByte
                xx += 1
              }
              yy += 1
            }
            bxi += 1
          }
          byi += 1
        }
        c += 1
      }
      assemble(w, h, nComp, compH, compV, hMax, vMax, planes, planeW)
    }

    private def decodeScan(bytes: Array[Byte], scanStart: Int,
        w: Int, h: Int, nComp: Int,
        compH: Array[Int], compV: Array[Int], compQ: Array[Int],
        compDc: Array[Int], compAc: Array[Int],
        qtab: Array[Array[Int]], dcTab: Array[Huff], acTab: Array[Huff],
        restartInterval: Int): Option[(Int, Int, Int, Array[Byte])] = {
      var hMax = 1; var vMax = 1
      var c = 0
      while (c < nComp) {
        if (compH(c) > hMax) hMax = compH(c)
        if (compV(c) > vMax) vMax = compV(c)
        if (qtab(compQ(c)) == null || dcTab(compDc(c)) == null ||
            acTab(compAc(c)) == null) return None
        c += 1
      }
      val mcuW = 8 * hMax; val mcuH = 8 * vMax
      val mcusX = (w + mcuW - 1) / mcuW
      val mcusY = (h + mcuH - 1) / mcuH
      // padded per-component planes (MCU-aligned)
      val planeW = new Array[Int](3)
      val planeH = new Array[Int](3)
      val planes = new Array[Array[Byte]](3)
      c = 0
      while (c < nComp) {
        planeW(c) = mcusX * compH(c) * 8
        planeH(c) = mcusY * compV(c) * 8
        if (planeW(c).toLong * planeH(c) > 4L * MaxPixels) return None
        planes(c) = new Array[Byte](planeW(c) * planeH(c))
        c += 1
      }
      val br = new BitReader(
        java.util.Arrays.copyOfRange(bytes, scanStart, bytes.length))
      val dcPred = new Array[Int](3)
      val coef = new Array[Double](64)
      val block = new Array[Int](64)
      var rstCount = 0
      var mcusSinceRestart = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
            if (!br.restart(rstCount % 8)) return None
            rstCount += 1
            mcusSinceRestart = 0
            java.util.Arrays.fill(dcPred, 0)
          }
          c = 0
          while (c < nComp) {
            val q = qtab(compQ(c))
            var by = 0
            while (by < compV(c)) {
              var bx = 0
              while (bx < compH(c)) {
                // decode one 8×8 block
                java.util.Arrays.fill(coef, 0.0)
                val tDc = br.decodeHuff(dcTab(compDc(c)))
                if (tDc < 0 || tDc > 11) return None
                val diffBits = if (tDc == 0) 0 else br.receive(tDc)
                if (diffBits < 0) return None
                val diff =
                  if (tDc == 0) 0
                  else if (diffBits < (1 << (tDc - 1))) diffBits - (1 << tDc) + 1
                  else diffBits
                dcPred(c) += diff
                coef(0) = dcPred(c).toDouble * q(0)
                var k = 1
                var done = false
                while (k < 64 && !done) {
                  val rs = br.decodeHuff(acTab(compAc(c)))
                  if (rs < 0) return None
                  val r = rs >> 4; val s = rs & 0x0f
                  if (s == 0) {
                    if (r == 15) k += 16 // ZRL
                    else done = true     // EOB
                  } else {
                    k += r
                    if (k > 63) return None
                    val vBits = br.receive(s)
                    if (vBits < 0) return None
                    val v =
                      if (vBits < (1 << (s - 1))) vBits - (1 << s) + 1
                      else vBits
                    coef(ZigZag(k)) = v.toDouble * q(k)
                    k += 1
                  }
                }
                idct(coef, block)
                // place into the component plane
                val ox = (mx * compH(c) + bx) * 8
                val oy = (my * compV(c) + by) * 8
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  val rowOff = (oy + yy) * planeW(c) + ox
                  while (xx < 8) {
                    planes(c)(rowOff + xx) = block(yy * 8 + xx).toByte
                    xx += 1
                  }
                  yy += 1
                }
                bx += 1
              }
              by += 1
            }
            c += 1
          }
          mcusSinceRestart += 1
          mx += 1
        }
        my += 1
      }
      assemble(w, h, nComp, compH, compV, hMax, vMax, planes, planeW)
    }

    /** Shared tail of both scan paths: upsample each component plane to
      * full resolution (triangular "fancy" filters for the 2× ratios —
      * the IJG/libjpeg reconstruction, so decoded pixels match the
      * reference decoder to IDCT rounding — nearest for exotic ratios),
      * then color-convert. */
    private def assemble(w: Int, h: Int, nComp: Int,
        compH: Array[Int], compV: Array[Int], hMax: Int, vMax: Int,
        planes: Array[Array[Byte]], planeW: Array[Int])
        : Option[(Int, Int, Int, Array[Byte])] = {
      var c = 0
      val outCh = if (nComp == 1) 1 else 3
      val full = new Array[Array[Int]](nComp)
      c = 0
      while (c < nComp) {
        val sw = (w * compH(c) + hMax - 1) / hMax
        val sh = (h * compV(c) + vMax - 1) / vMax
        full(c) = upsamplePlane(planes(c), planeW(c), sw, sh,
          compH(c), compV(c), hMax, vMax, w, h)
        c += 1
      }
      val px = new Array[Byte](w * h * outCh)
      if (nComp == 1) {
        var i = 0
        while (i < w * h) { px(i) = full(0)(i).toByte; i += 1 }
      } else {
        def clamp(v: Long): Byte =
          (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        var i = 0
        while (i < w * h) {
          val yv = full(0)(i)
          val cb = full(1)(i) - 128
          val cr = full(2)(i) - 128
          // integer BT.601, FIX(x) = round(x·2^16) — the IJG constants
          val r = (yv * 65536L + 91881L * cr + 32768L) >> 16
          val g = (yv * 65536L - 22554L * cb - 46802L * cr + 32768L) >> 16
          val b = (yv * 65536L + 116130L * cb + 32768L) >> 16
          val off = i * 3
          px(off) = clamp(r); px(off + 1) = clamp(g); px(off + 2) = clamp(b)
          i += 1
        }
      }
      Some((w, h, outCh, px))
    }

    /** Upsample one component plane (MCU-padded, `pw` wide; valid region
      * `sw`×`sh`) to the full `w`×`h` raster. 1:1 copies; h2 (4:2:2) and
      * h2v2 (4:2:0) run the IJG triangular filters with libjpeg's exact
      * rounding constants; any other ratio falls back to nearest. */
    private def upsamplePlane(plane: Array[Byte], pw: Int, sw: Int, sh: Int,
        cH: Int, cV: Int, hMax: Int, vMax: Int, w: Int, h: Int): Array[Int] = {
      val out = new Array[Int](w * h)
      val fx = hMax / cH; val fy = vMax / cV
      def s(x: Int, y: Int): Int = plane(y * pw + x) & 0xff
      if (fx == 1 && fy == 1 && cH * fx == hMax && cV * fy == vMax) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { out(y * w + x) = s(x, y); x += 1 }
          y += 1
        }
      } else if (fx == 2 && fy == 1 && cH * 2 == hMax && cV == vMax) {
        // h2v1 fancy: out[2i] = (3·s[i] + s[i−1] + 1) >> 2,
        //             out[2i+1] = (3·s[i] + s[i+1] + 2) >> 2, edges copy
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = x >> 1
            val v =
              if (sw == 1) s(0, y)
              else if (x == 0) s(0, y)
              else if (x == 2 * sw - 1) s(sw - 1, y)
              else if ((x & 1) == 0) (3 * s(i, y) + s(i - 1, y) + 1) >> 2
              else (3 * s(i, y) + s(i + 1, y) + 2) >> 2
            out(y * w + x) = v
            x += 1
          }
          y += 1
        }
      } else if (fx == 2 && fy == 2 && cH * 2 == hMax && cV * 2 == vMax) {
        // h2v2 fancy: vertical 3:1 column sums (nearer row ×3), then the
        // horizontal triangle with the +8/+7 rounding pair
        val colsum = new Array[Int](sw)
        var y = 0
        while (y < h) {
          val j = y >> 1
          val adj = {
            val a = if ((y & 1) == 0) j - 1 else j + 1
            if (a < 0) 0 else if (a >= sh) sh - 1 else a
          }
          var i = 0
          while (i < sw) { colsum(i) = 3 * s(i, j) + s(i, adj); i += 1 }
          var x = 0
          while (x < w) {
            val i2 = x >> 1
            val v =
              if (sw == 1)
                (colsum(0) * 4 + (if ((x & 1) == 0) 8 else 7)) >> 4
              else if (x == 0) (colsum(0) * 4 + 8) >> 4
              else if (x == 2 * sw - 1) (colsum(sw - 1) * 4 + 7) >> 4
              else if ((x & 1) == 0) (3 * colsum(i2) + colsum(i2 - 1) + 8) >> 4
              else (3 * colsum(i2) + colsum(i2 + 1) + 7) >> 4
            out(y * w + x) = v
            x += 1
          }
          y += 1
        }
      } else {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            out(y * w + x) = s(x * cH / hMax, y * cV / vMax)
            x += 1
          }
          y += 1
        }
      }
      out
    }

    // -------------------------------------------------------------------
    // Minimal encoder — fixtures + gates, the FLAC-encoder discipline:
    // real sequential-baseline streams (SOI/DQT/SOF0/DHT/SOS/EOI, byte
    // stuffing, optional DRI restarts) that any conformant decoder
    // accepts. Grayscale only, quant table all-ones (error limited to
    // DCT rounding). Two PROFILES that differ at the entropy level only
    // (Huffman code lengths, restart structure): the same pixels encoded
    // under both produce byte-disjoint payloads that decode to IDENTICAL
    // coefficients — the cross-encode invariance the q225 MJPEG corpus
    // plants (exact payload hashing cannot pair the two encodings;
    // decode can, deterministically).
    // -------------------------------------------------------------------

    /** Canonical fixed-length Huffman table: `n` symbols, all at code
      * length `len` (codes 0..n-1 MSB-aligned; the all-ones code stays
      * unused whenever n < 2^len — the JPEG padding-ambiguity rule). */
    private final class FlatHuff(val syms: Array[Int], val len: Int) {
      require(syms.length < (1 << len))
      private val index = {
        val m = new Array[Int](256)
        java.util.Arrays.fill(m, -1)
        syms.zipWithIndex.foreach { case (s, i) => m(s) = i }
        m
      }
      def code(sym: Int): Int = {
        val c = index(sym)
        require(c >= 0, s"symbol $sym not in table")
        c
      }
      /** DHT body: 16 BITS counts + the symbol bytes. */
      def dhtBody: Array[Byte] = {
        val bits = new Array[Byte](16)
        bits(len - 1) = syms.length.toByte
        bits ++ syms.map(_.toByte)
      }
    }

    private def flatDc(len: Int) = new FlatHuff(Array.tabulate(12)(identity), len)
    private def flatAc(len: Int) = new FlatHuff(
      (Seq(0x00, 0xf0) ++ (for (run <- 0 to 15; size <- 1 to 10)
        yield (run << 4) | size)).toArray, len)

    /** Entropy-segment writer: MSB-first bits, 0xFF byte stuffing, 1-fill
      * padding at restarts and at the end (spec F.1.2.3). */
    private final class StuffWriter(out: java.io.ByteArrayOutputStream) {
      private var cur = 0
      private var nBits = 0
      def writeBits(v: Int, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          cur = (cur << 1) | ((v >> i) & 1); nBits += 1
          if (nBits == 8) {
            out.write(cur)
            if (cur == 0xff) out.write(0x00)
            cur = 0; nBits = 0
          }
          i -= 1
        }
      }
      def pad(): Unit = while (nBits != 0) writeBits(1, 1)
    }

    private def bitSize(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))

    /** Encode an 8-bit grayscale plane as sequential baseline JPEG.
      * Profile 0: DC/AC code lengths 4/8, no restart markers. Profile 1:
      * lengths 5/9 plus a DRI restart after every MCU row. Non-multiple
      * -of-8 dimensions pad by edge replication (decode crops). */
    private[graft] def encodeGray(w: Int, h: Int, pixels: Array[Byte],
        profile: Int = 0): Array[Byte] = {
      require(w > 0 && h > 0 && pixels.length == w * h)
      require(profile == 0 || profile == 1)
      val dcT = if (profile == 0) flatDc(4) else flatDc(5)
      val acT = if (profile == 0) flatAc(8) else flatAc(9)
      val mcusPerRow = (w + 7) / 8
      val mcuRows = (h + 7) / 8
      val restartInterval = if (profile == 1) mcusPerRow else 0
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
      def segment(m: Int, body: Array[Byte]): Unit = {
        marker(m)
        putBe16(out, body.length + 2)
        out.write(body)
      }
      marker(0xd8) // SOI
      segment(0xdb, Array[Byte](0x00) ++ Array.fill[Byte](64)(1)) // DQT all-ones
      segment(0xc0, Array[Byte](8, // SOF0: precision
        ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
        ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
        1, 1, 0x11, 0)) // 1 component, id 1, 1x1 sampling, quant 0
      segment(0xc4, Array[Byte](0x00) ++ dcT.dhtBody) // DHT DC class 0 id 0
      segment(0xc4, Array[Byte](0x10) ++ acT.dhtBody) // DHT AC class 1 id 0
      if (restartInterval > 0)
        segment(0xdd, Array[Byte](
          ((restartInterval >> 8) & 0xff).toByte, (restartInterval & 0xff).toByte))
      segment(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0)) // SOS
      val sw = new StuffWriter(out)
      val block = new Array[Double](64)
      val zig = new Array[Int](64)
      var prevDc = 0
      var mcusSinceRestart = 0
      var rstCount = 0
      var by = 0
      while (by < mcuRows) {
        var bx = 0
        while (bx < mcusPerRow) {
          if (restartInterval > 0 && mcusSinceRestart == restartInterval) {
            sw.pad()
            marker(0xd0 + rstCount % 8)
            rstCount += 1; mcusSinceRestart = 0; prevDc = 0
          }
          // FDCT of the level-shifted block (edge-replicated fetch),
          // the transpose pair of the decoder's idct: same CosT, same /4
          var u = 0
          while (u < 8) {
            var v = 0
            while (v < 8) {
              var s = 0.0
              var y = 0
              while (y < 8) {
                val py = math.min(h - 1, by * 8 + y)
                var x = 0
                while (x < 8) {
                  val px = math.min(w - 1, bx * 8 + x)
                  s += ((pixels(py * w + px) & 0xff) - 128) *
                    CosT(x)(u) * CosT(y)(v)
                  x += 1
                }
                y += 1
              }
              block(v * 8 + u) = s / 4.0
              v += 1
            }
            u += 1
          }
          var k = 0
          while (k < 64) { zig(k) = math.round(block(ZigZag(k))).toInt; k += 1 }
          // DC
          val diff = zig(0) - prevDc
          prevDc = zig(0)
          val ds = if (diff == 0) 0 else bitSize(diff)
          sw.writeBits(dcT.code(ds), dcT.len)
          if (ds > 0)
            sw.writeBits(if (diff < 0) diff + (1 << ds) - 1 else diff, ds)
          // AC
          var run = 0
          k = 1
          while (k < 64) {
            val c = zig(k)
            if (c == 0) run += 1
            else {
              while (run > 15) { sw.writeBits(acT.code(0xf0), acT.len); run -= 16 }
              val s = bitSize(c)
              sw.writeBits(acT.code((run << 4) | s), acT.len)
              sw.writeBits(if (c < 0) c + (1 << s) - 1 else c, s)
              run = 0
            }
            k += 1
          }
          if (run > 0) sw.writeBits(acT.code(0x00), acT.len) // EOB
          mcusSinceRestart += 1
          bx += 1
        }
        by += 1
      }
      sw.pad()
      marker(0xd9) // EOI
      out.toByteArray
    }
  }

  /** Every real image decoder in routing order: the first to accept the
    * bytes wins. TGA has no magic number, so it runs last, after every
    * magic-bearing format has had its chance. */
  private val realCodecs: Seq[RealCodec] = Seq(PnmCodec, PngCodec, JpegCodec,
    GifCodec, BmpCodec, TiffCodec, IcoCodec, TgaCodec)

  /** The first codec's decode that accepts the bytes (later ones never run). */
  private def firstDecode[C, A](codecs: Seq[C])(decode: C => Option[A]): Option[A] =
    codecs.iterator.flatMap(decode(_)).nextOption()

  /** Pixel-level decode across every real image decoder — the
    * perceptual-hash family's entry point; stub formats yield None. */
  private[graft] def decodeLumaAny(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    firstDecode(realCodecs)(_.decodeLuma(bytes))

  /** Decoded audio features. */
  case class AudioFeatures(asset_id: Long, sample_rate: Int, channels: Int,
      n_frames: Long, duration_sec: Double, n_bytes: Long, feature: Array[Float])

  /** The audio codec seam: decode bytes to (sampleRate, channels,
    * nFrames, 8-dim feature), or None when the payload isn't this
    * codec's format. */
  trait AudioCodec extends Serializable {
    def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])]
  }

  /** A real audio decoder: besides features it yields the q164
    * per-temporal-window integer energies that the perceptual-hash family
    * hashes. [[StubAudioCodec]] is not one. */
  trait RealAudioCodec extends AudioCodec {
    private[graft] def decodeEnergyWindows(bytes: Array[Byte],
        nWindows: Int = 65): Option[Array[Long]]
  }

  /** A real decoder that lands its PCM as a canonical in-memory WAV and
    * re-enters [[WavCodec]], so features and energy windows are
    * identical for identical PCM whichever container carried it. */
  trait WavTranscoder extends RealAudioCodec {
    /** The decoded PCM as canonical 16-bit WAV; None on any malformation
      * or unsupported profile, never a throw. */
    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]]

    def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
      toWav(bytes).flatMap(WavCodec.decodeAudio)

    private[graft] def decodeEnergyWindows(bytes: Array[Byte],
        nWindows: Int): Option[Array[Long]] =
      toWav(bytes).flatMap(WavCodec.decodeEnergyWindows(_, nWindows))
  }

  /** REAL decoder for canonical WAV (RIFF/WAVE, PCM format 1, 16-bit) —
    * the audio analogue of [[PnmCodec]]: zero external libraries, full
    * chunk walking (unknown chunks skipped, word-aligned, truncation-
    * safe). Features, all in [0,1]: overall RMS, peak amplitude, RMS of
    * the four temporal quarters (the audio twin of PnmCodec's 2×2 luma
    * quadrants), zero-crossing rate, and a bounded sample-rate ratio.
    * Multi-channel frames average to mono before analysis. MP3/OGG/AAC
    * plug in through the same seam on a cluster with media libs;
    * [[StubAudioCodec]] stands in for them here. */
  object WavCodec extends RealAudioCodec {
    /** The canonical profile this codec owns: PCM (format 1), 16-bit,
      * any channel count. */
    private def pcm16(bytes: Array[Byte]): Option[Riff.Fmt] =
      Riff.walk(bytes).filter(f => f.format == 1 && f.bits == 16)

    def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
      val fmt = pcm16(bytes).orNull
      if (fmt == null) return None
      val channels = fmt.channels
      val bytesPerFrame = 2 * channels
      val nFrames = fmt.dataLen / bytesPerFrame
      if (nFrames == 0) return None
      var sumSq = 0.0
      val quarterSq = new Array[Double](4)
      val quarterN = new Array[Long](4)
      var peak = 0
      var crossings = 0L
      var prevSign = 0
      var f = 0L
      while (f < nFrames) {
        val off = fmt.dataOff + (f * bytesPerFrame).toInt
        var acc = 0L
        var c = 0
        while (c < channels) {
          acc += le16(bytes, off + 2 * c).toShort // sign-extend
          c += 1
        }
        val mono = (acc / channels).toInt
        val a = math.abs(mono)
        if (a > peak) peak = a
        val sq = mono.toDouble * mono
        sumSq += sq
        val q = math.min(3, (f * 4 / nFrames).toInt)
        quarterSq(q) += sq; quarterN(q) += 1
        val sign = Integer.signum(mono)
        if (sign != 0) {
          if (prevSign != 0 && sign != prevSign) crossings += 1
          prevSign = sign
        }
        f += 1
      }
      val full = 32768.0
      def rms(sq: Double, n: Long): Float =
        if (n > 0) (math.sqrt(sq / n) / full).toFloat else 0f
      val sampleRate = fmt.sampleRate
      val feature = Array(
        rms(sumSq, nFrames),
        (peak / full).toFloat,
        rms(quarterSq(0), quarterN(0)), rms(quarterSq(1), quarterN(1)),
        rms(quarterSq(2), quarterN(2)), rms(quarterSq(3), quarterN(3)),
        if (nFrames > 1) crossings.toFloat / (nFrames - 1) else 0f,
        (sampleRate.toFloat / (sampleRate + 48000f)))
      Some((sampleRate.toInt, channels, nFrames, feature))
    }

    /** Sample-level decode for the perceptual-hash family (q164): the
      * same RIFF walk as [[decodeAudio]], returning per-temporal-window
      * INTEGER energy sums (mono-averaged squares, floor-division window
      * boundaries — bit-exact on any platform). Requires at least
      * `nWindows` frames so no window is empty. */
    private[graft] def decodeEnergyWindows(bytes: Array[Byte],
        nWindows: Int): Option[Array[Long]] = {
      val fmt = pcm16(bytes).orNull
      if (fmt == null) return None
      val channels = fmt.channels
      val bytesPerFrame = 2 * channels
      val nFrames = fmt.dataLen / bytesPerFrame
      if (nFrames < nWindows) return None
      val energy = new Array[Long](nWindows)
      var f = 0L
      while (f < nFrames) {
        val off = fmt.dataOff + (f * bytesPerFrame).toInt
        var acc = 0L
        var c = 0
        while (c < channels) {
          acc += le16(bytes, off + 2 * c).toShort
          c += 1
        }
        val mono = acc / channels
        val w = math.min(nWindows - 1, (f * nWindows / nFrames).toInt)
        energy(w) += mono * mono
        f += 1
      }
      Some(energy)
    }

    /** Raw interleaved PCM for the FLAC transcode fixture path: the same
      * RIFF walk, samples returned untouched. */
    private[graft] def decodePcm16(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
      pcm16(bytes).flatMap { f =>
        val nSamples = (f.dataLen / 2).toInt
        if (nSamples == 0) None
        else Some((f.sampleRate.toInt, f.channels,
          Array.tabulate(nSamples)(i => le16(bytes, f.dataOff + 2 * i).toShort)))
      }
  }

  /** REAL lib-free FLAC decoder (RFC 9639 subset: 16-bit streams, all
    * four subframe types — CONSTANT / VERBATIM / FIXED 0–4 / LPC 1–32 —
    * Rice + Rice2 residual partitions with escape codes, wasted bits,
    * all four channel assignments incl. the stereo decorrelations, CRC-8
    * header and CRC-16 frame verification) — the audio analogue of the
    * r13 JPEG move: the last compressed-audio seam a real corpus hits
    * before the documented MP3/video stubs. Decode lands as an in-memory
    * canonical WAV and re-enters [[WavCodec]], so features and the q164
    * energy windows are IDENTICAL to the uncompressed container by
    * construction — the cross-format invariance the mixed-corpus face
    * relies on (FLAC is lossless; FlacSpec round-trips plated PCM
    * bit-exactly and fuzzes truncations/bit-flips to None, never throw).
    *
    * The minimal encoder below ([[encode16]]) exists for fixtures and
    * the round-trip gate: per block it picks the cheapest of CONSTANT /
    * VERBATIM / FIXED(1,2)+Rice, so tonal signals take the predictive
    * path and the md5-noise fixtures take verbatim — all of it real
    * framing with real CRCs that libFLAC would accept. */
  object FlacCodec extends WavTranscoder {
    /** MSB-first bit reader; out-of-bounds reads raise the private
      * control exception the decode boundary maps to None. */
    private final class Exhausted extends RuntimeException
    private final class BitReader(bytes: Array[Byte], var bytePos: Int) {
      private var bitPos = 0
      def readBit(): Int = {
        if (bytePos >= bytes.length) throw new Exhausted
        val b = (bytes(bytePos) >> (7 - bitPos)) & 1
        bitPos += 1
        if (bitPos == 8) { bitPos = 0; bytePos += 1 }
        b
      }
      def readBits(n: Int): Long = {
        var v = 0L; var i = 0
        while (i < n) { v = (v << 1) | readBit(); i += 1 }
        v
      }
      def readSigned(n: Int): Int = {
        val v = readBits(n)
        ((v << (64 - n)) >> (64 - n)).toInt // sign-extend
      }
      def readUnary(): Int = {
        var q = 0
        while (readBit() == 0) {
          q += 1
          if (q > (1 << 20)) throw new Exhausted // hostile run
        }
        q
      }
      def alignToByte(): Unit =
        if (bitPos != 0) { bitPos = 0; bytePos += 1 }
      def atByteBoundary: Boolean = bitPos == 0
      /** FLAC's UTF-8-style coded number (frame/sample index). */
      def readCodedNumber(): Long = {
        val b0 = readBits(8).toInt
        if ((b0 & 0x80) == 0) return b0
        var n = 0
        var mask = 0x40
        while ((b0 & mask) != 0 && n < 7) { n += 1; mask >>= 1 }
        if (n == 0 || n > 6) throw new Exhausted // 10xxxxxx / overlong
        var v = (b0 & (0x3f >> n)).toLong
        var i = 0
        while (i < n) {
          val c = readBits(8).toInt
          if ((c & 0xc0) != 0x80) throw new Exhausted
          v = (v << 6) | (c & 0x3f)
          i += 1
        }
        v
      }
    }

    private def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
      var crc = 0
      var i = from
      while (i < until) {
        crc ^= bytes(i) & 0xff
        var b = 0
        while (b < 8) {
          crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
          b += 1
        }
        i += 1
      }
      crc
    }

    private def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
      var crc = 0
      var i = from
      while (i < until) {
        crc ^= (bytes(i) & 0xff) << 8
        var b = 0
        while (b < 8) {
          crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
                else (crc << 1) & 0xffff
          b += 1
        }
        i += 1
      }
      crc
    }

    private val blockSizeTable = Array(-1, 192, 576, 1152, 2304, 4608,
      -2, -3, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
    private val sampleRateTable = Array(-1, 88200, 176400, 192000, 8000,
      16000, 22050, 24000, 32000, 44100, 48000, 96000, -2, -3, -4, -5)

    /** Full FLAC → canonical in-memory WAV (16-bit only — the container
      * profile the corpus fixtures and WavCodec share). None on any
      * malformation, CRC mismatch, or unsupported profile; never throws. */
    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] = {
      try {
        if (bytes.length < 42 || bytes(0) != 'f' || bytes(1) != 'L' ||
            bytes(2) != 'a' || bytes(3) != 'C') return None
        // metadata walk: STREAMINFO first (mandatory), skip the rest
        var pos = 4
        var last = false
        var sampleRate = -1; var channels = -1; var bps = -1
        var totalSamples = 0L
        var sawStreamInfo = false
        while (!last) {
          if (pos + 4 > bytes.length) return None
          last = (bytes(pos) & 0x80) != 0
          val btype = bytes(pos) & 0x7f
          val len = ((bytes(pos + 1) & 0xff) << 16) | ((bytes(pos + 2) & 0xff) << 8) |
            (bytes(pos + 3) & 0xff)
          val body = pos + 4
          if (body + len > bytes.length) return None
          if (btype == 0) { // STREAMINFO, 34 bytes
            if (len < 34) return None
            val br = new BitReader(bytes, body)
            br.readBits(16); br.readBits(16) // min/max block size
            br.readBits(24); br.readBits(24) // min/max frame size
            sampleRate = br.readBits(20).toInt
            channels = br.readBits(3).toInt + 1
            bps = br.readBits(5).toInt + 1
            totalSamples = br.readBits(36)
            sawStreamInfo = true
          } else if (btype == 127) return None // invalid
          pos = body + len
        }
        if (!sawStreamInfo || sampleRate <= 0 || sampleRate > 4000000 ||
            channels < 1 || channels > 8 || bps != 16) return None
        if (totalSamples > (1L << 24)) return None // hostile header cap
        val out = new java.io.ByteArrayOutputStream()
        var decoded = 0L
        // decode frames until data ends or the declared total is reached
        while (pos + 2 <= bytes.length &&
               (totalSamples == 0 || decoded < totalSamples)) {
          val frameStart = pos
          val br = new BitReader(bytes, pos)
          if (br.readBits(14) != 0x3ffe) return None // lost sync
          br.readBit() // reserved
          br.readBit() // blocking strategy
          val bsCode = br.readBits(4).toInt
          val srCode = br.readBits(4).toInt
          val chAsgn = br.readBits(4).toInt
          val ssCode = br.readBits(3).toInt
          br.readBit() // reserved
          br.readCodedNumber()
          val blockSize = bsCode match {
            case 0 => return None
            case 6 => br.readBits(8).toInt + 1
            case 7 => br.readBits(16).toInt + 1
            case c => blockSizeTable(c)
          }
          srCode match { // stream rate authoritative; just consume
            case 12 => br.readBits(8)
            case 13 | 14 => br.readBits(16)
            case 15 => return None
            case _ => ()
          }
          // sample size: must agree with the 16-bit profile (0 = from
          // STREAMINFO, 4 = 16-bit)
          if (ssCode != 0 && ssCode != 4) return None
          br.alignToByte()
          val crcHdrPos = br.bytePos
          if (crc8(bytes, frameStart, crcHdrPos) != br.readBits(8).toInt)
            return None
          val nCh = chAsgn match {
            case a if a <= 7 => a + 1
            case 8 | 9 | 10 => 2
            case _ => return None
          }
          if (nCh != channels) return None
          if (blockSize <= 0 || blockSize > 65535) return None
          if (decoded + blockSize > (1L << 24)) return None
          // subframes: the side channel of the stereo decorrelations
          // carries one extra bit
          val ch = Array.ofDim[Int](nCh, blockSize)
          var c = 0
          while (c < nCh) {
            val extra = chAsgn match {
              case 8 if c == 1 => 1 // left/side
              case 9 if c == 0 => 1 // side/right
              case 10 if c == 1 => 1 // mid/side
              case _ => 0
            }
            decodeSubframe(br, blockSize, bps + extra, ch(c))
            c += 1
          }
          br.alignToByte()
          val crcPos = br.bytePos
          if (crcPos + 2 > bytes.length) return None
          if (crc16(bytes, frameStart, crcPos) != be16(bytes, crcPos)) return None
          pos = crcPos + 2
          // undo inter-channel decorrelation
          chAsgn match {
            case 8 => // left/side: right = left - side
              var i = 0
              while (i < blockSize) { ch(1)(i) = ch(0)(i) - ch(1)(i); i += 1 }
            case 9 => // side/right: left = right + side
              var i = 0
              while (i < blockSize) {
                val side = ch(0)(i); ch(0)(i) = ch(1)(i) + side; i += 1
              }
            case 10 => // mid/side: mid stored as (l+r)>>1 with the lost
              // low bit recoverable from side's parity (RFC 9639 §4.2)
              var i = 0
              while (i < blockSize) {
                val mid = ch(0)(i); val side = ch(1)(i)
                val l = (((mid << 1) | (side & 1)) + side) >> 1
                ch(0)(i) = l; ch(1)(i) = l - side
                i += 1
              }
            case _ => ()
          }
          val take =
            if (totalSamples == 0) blockSize
            else math.min(blockSize.toLong, totalSamples - decoded).toInt
          var i = 0
          while (i < take) {
            var cc = 0
            while (cc < nCh) {
              val s = ch(cc)(i)
              if (s < -32768 || s > 32767) return None
              putLe16(out, s)
              cc += 1
            }
            i += 1
          }
          decoded += take
        }
        if (decoded == 0) return None
        if (totalSamples != 0 && decoded < totalSamples) return None
        val data = out.toByteArray
        Some(Riff.header(1, channels, sampleRate, 16, channels * 2, data.length) ++ data)
      } catch {
        case _: Exhausted | _: ArrayIndexOutOfBoundsException |
             _: NegativeArraySizeException => None
      }
    }

    private def decodeSubframe(br: BitReader, blockSize: Int, bps: Int,
        out: Array[Int]): Unit = {
      if (br.readBit() != 0) throw new Exhausted // padding bit must be 0
      val tpe = br.readBits(6).toInt
      val wasted =
        if (br.readBit() == 1) br.readUnary() + 1 else 0
      val ebps = bps - wasted
      if (ebps <= 0 || ebps > 32) throw new Exhausted
      tpe match {
        case 0 => // CONSTANT
          val v = br.readSigned(ebps)
          java.util.Arrays.fill(out, v)
        case 1 => // VERBATIM
          var i = 0
          while (i < blockSize) { out(i) = br.readSigned(ebps); i += 1 }
        case t if t >= 8 && t <= 12 => // FIXED order 0..4
          val order = t - 8
          if (order > blockSize) throw new Exhausted
          var i = 0
          while (i < order) { out(i) = br.readSigned(ebps); i += 1 }
          decodeResidual(br, blockSize, order, out)
          var k = order
          while (k < blockSize) {
            out(k) = order match {
              case 0 => out(k)
              case 1 => out(k) + out(k - 1)
              case 2 => out(k) + 2 * out(k - 1) - out(k - 2)
              case 3 => out(k) + 3 * out(k - 1) - 3 * out(k - 2) + out(k - 3)
              case 4 => out(k) + 4 * out(k - 1) - 6 * out(k - 2) +
                4 * out(k - 3) - out(k - 4)
            }
            k += 1
          }
        case t if t >= 32 => // LPC order 1..32
          val order = t - 31
          if (order > blockSize) throw new Exhausted
          var i = 0
          while (i < order) { out(i) = br.readSigned(ebps); i += 1 }
          val prec = br.readBits(4).toInt + 1
          if (prec > 15) throw new Exhausted // 0b1111 invalid by spec
          val shift = br.readSigned(5)
          if (shift < 0) throw new Exhausted
          val coefs = Array.tabulate(order)(_ => br.readSigned(prec))
          decodeResidual(br, blockSize, order, out)
          var k = order
          while (k < blockSize) {
            var acc = 0L
            var j = 0
            while (j < order) { acc += coefs(j).toLong * out(k - 1 - j); j += 1 }
            out(k) = out(k) + (acc >> shift).toInt
            k += 1
          }
        case _ => throw new Exhausted // reserved types
      }
      if (wasted > 0) {
        var i = 0
        while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
      }
    }

    /** Rice/Rice2 residual into out(order until blockSize). */
    private def decodeResidual(br: BitReader, blockSize: Int, order: Int,
        out: Array[Int]): Unit = {
      val method = br.readBits(2).toInt
      if (method > 1) throw new Exhausted
      val pBits = if (method == 0) 4 else 5
      val esc = if (method == 0) 15 else 31
      val po = br.readBits(4).toInt
      val parts = 1 << po
      if (blockSize % parts != 0 || blockSize / parts <= (if (po == 0) order else 0))
        throw new Exhausted
      var idx = order
      var p = 0
      while (p < parts) {
        val n = (blockSize / parts) - (if (p == 0) order else 0)
        val param = br.readBits(pBits).toInt
        if (param == esc) {
          val raw = br.readBits(5).toInt
          var i = 0
          while (i < n) {
            out(idx) = if (raw == 0) 0 else br.readSigned(raw)
            idx += 1; i += 1
          }
        } else {
          var i = 0
          while (i < n) {
            val q = br.readUnary()
            val v = (q.toLong << param) | br.readBits(param)
            out(idx) = ((v >>> 1) ^ -(v & 1L)).toInt // zigzag
            idx += 1; i += 1
          }
        }
        p += 1
      }
    }

    // -------------------------------------------------------------------
    // Minimal encoder — fixtures + the lossless round-trip gate.
    // -------------------------------------------------------------------

    private final class BitWriter {
      private val buf = new java.io.ByteArrayOutputStream()
      private var cur = 0
      private var nBits = 0
      def writeBit(b: Int): Unit = {
        cur = (cur << 1) | (b & 1); nBits += 1
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
      }
      def writeBits(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) { writeBit(((v >> i) & 1L).toInt); i -= 1 }
      }
      def alignToByte(): Unit = while (nBits != 0) writeBit(0)
      def toBytes: Array[Byte] = { alignToByte(); buf.toByteArray }
    }

    private def zigzag(v: Int): Long = ((v.toLong << 1) ^ (v.toLong >> 63))

    /** Rice-encoded size in bits of residuals under parameter k. */
    private def riceCost(res: Array[Int], k: Int): Long =
      res.foldLeft(0L)((acc, r) => acc + (zigzag(r) >>> k) + 1 + k)

    /** Encode interleaved 16-bit PCM as a real FLAC stream: fixed 4096
      * blocks, per-channel independent subframes, each the cheapest of
      * CONSTANT / VERBATIM / FIXED(1,2) + Rice (partition order 0). */
    private[graft] def encode16(sampleRate: Int, channels: Int,
        interleaved: Array[Short]): Array[Byte] = {
      require(channels >= 1 && channels <= 8 && interleaved.length % channels == 0)
      val nFrames = interleaved.length / channels
      val out = new java.io.ByteArrayOutputStream()
      putAscii(out, "fLaC")
      // STREAMINFO (last metadata block)
      val si = new BitWriter
      val block = 4096
      si.writeBits(block, 16); si.writeBits(block, 16)
      si.writeBits(0, 24); si.writeBits(0, 24) // frame sizes unknown
      si.writeBits(sampleRate, 20)
      si.writeBits(channels - 1, 3)
      si.writeBits(15, 5) // bps - 1
      si.writeBits(nFrames, 36)
      si.writeBits(0, 64); si.writeBits(0, 64) // md5 unset
      val siBytes = si.toBytes
      out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
      out.write(siBytes)
      var frameNo = 0L
      var off = 0
      while (off < nFrames) {
        val n = math.min(block, nFrames - off)
        val bw = new BitWriter
        bw.writeBits(0x3ffe, 14); bw.writeBit(0); bw.writeBit(0)
        bw.writeBits(7, 4)  // block size: 16-bit field at end of header
        bw.writeBits(0, 4)  // sample rate: from STREAMINFO
        bw.writeBits(channels - 1, 4)
        bw.writeBits(4, 3)  // 16-bit
        bw.writeBit(0)
        writeCodedNumber(bw, frameNo)
        bw.writeBits(n - 1, 16)
        val headNoCrc = bw.toBytes // byte-aligned here by construction
        val crc8v = crc8(headNoCrc, 0, headNoCrc.length)
        val fw = new BitWriter
        headNoCrc.foreach(b => fw.writeBits(b & 0xffL, 8))
        fw.writeBits(crc8v, 8)
        var c = 0
        while (c < channels) {
          val s = Array.tabulate(n)(i => interleaved((off + i) * channels + c).toInt)
          writeSubframe(fw, s, 16)
          c += 1
        }
        fw.alignToByte()
        val frameBytes = fw.toBytes
        val crc16v = crc16(frameBytes, 0, frameBytes.length)
        out.write(frameBytes)
        putBe16(out, crc16v)
        off += n
        frameNo += 1
      }
      out.toByteArray
    }

    private def writeCodedNumber(bw: BitWriter, v: Long): Unit =
      if (v < 0x80) bw.writeBits(v, 8)
      else {
        // 2..7-byte UTF-8-style encodings
        val n =
          if (v < (1L << 11)) 2 else if (v < (1L << 16)) 3
          else if (v < (1L << 21)) 4 else if (v < (1L << 26)) 5
          else if (v < (1L << 31)) 6 else 7
        val lead = (0xfe << (7 - n)) & 0xff
        bw.writeBits(lead | (v >> (6 * (n - 1))), 8)
        var i = n - 2
        while (i >= 0) {
          bw.writeBits(0x80L | ((v >> (6 * i)) & 0x3f), 8)
          i -= 1
        }
      }

    private def writeSubframe(bw: BitWriter, s: Array[Int], bps: Int): Unit = {
      val n = s.length
      val mask = (1L << bps) - 1
      def fixedResidual(order: Int): Array[Int] = order match {
        case 1 => Array.tabulate(n - 1)(i => s(i + 1) - s(i))
        case 2 => Array.tabulate(n - 2)(i => s(i + 2) - 2 * s(i + 1) + s(i))
        case _ => s
      }
      def bestRiceK(res: Array[Int]): Int =
        (0 to 14).minBy(k => riceCost(res, k))
      val constant = s.forall(_ == s.head)
      // candidate costs in bits (header ~8 + payload)
      val verbCost = bps.toLong * n
      val cands = Seq(1, 2).filter(_ < n).map { o =>
        val res = fixedResidual(o)
        val k = bestRiceK(res)
        (o, k, res, bps.toLong * o + 2 + 4 + 4 + riceCost(res, k))
      }
      if (constant) {
        bw.writeBit(0); bw.writeBits(0, 6); bw.writeBit(0)
        bw.writeBits(s.head.toLong & mask, bps)
      } else cands.sortBy(_._4).headOption match {
        case Some((o, k, res, cost)) if cost < verbCost =>
          bw.writeBit(0); bw.writeBits(8 + o, 6); bw.writeBit(0)
          var i = 0
          while (i < o) { bw.writeBits(s(i).toLong & mask, bps); i += 1 }
          bw.writeBits(0, 2)  // Rice 4-bit params
          bw.writeBits(0, 4)  // partition order 0
          bw.writeBits(k, 4)
          res.foreach { r =>
            val z = zigzag(r)
            var q = z >>> k
            while (q > 0) { bw.writeBit(0); q -= 1 }
            bw.writeBit(1)
            bw.writeBits(z & ((1L << k) - 1), k)
          }
        case _ =>
          bw.writeBit(0); bw.writeBits(1, 6); bw.writeBit(0)
          s.foreach(v => bw.writeBits(v.toLong & mask, bps))
      }
    }

    /** Stereo encoder with an explicit channel assignment — exercises
      * the left/side (8), right/side (9), and mid/side (10) decode
      * reconstructions the mono fixtures never reach; FlacSpec
      * round-trips all three against the independent encoding. */
    private[graft] def encode16Stereo(sampleRate: Int, left: Array[Int],
        right: Array[Int], assignment: Int): Array[Byte] = {
      require(left.length == right.length && left.length > 0)
      require(assignment >= 8 && assignment <= 10)
      val n = left.length
      require(n <= 65535, "single-frame test encoder")
      val out = new java.io.ByteArrayOutputStream()
      putAscii(out, "fLaC")
      val si = new BitWriter
      si.writeBits(n, 16); si.writeBits(n, 16)
      si.writeBits(0, 24); si.writeBits(0, 24)
      si.writeBits(sampleRate, 20); si.writeBits(1, 3); si.writeBits(15, 5)
      si.writeBits(n, 36); si.writeBits(0, 64); si.writeBits(0, 64)
      val siBytes = si.toBytes
      out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
      out.write(siBytes)
      val bw = new BitWriter
      bw.writeBits(0x3ffe, 14); bw.writeBit(0); bw.writeBit(0)
      bw.writeBits(7, 4); bw.writeBits(0, 4)
      bw.writeBits(assignment, 4); bw.writeBits(4, 3); bw.writeBit(0)
      writeCodedNumber(bw, 0L)
      bw.writeBits(n - 1, 16)
      val headNoCrc = bw.toBytes
      val fw = new BitWriter
      headNoCrc.foreach(b => fw.writeBits(b & 0xffL, 8))
      fw.writeBits(crc8(headNoCrc, 0, headNoCrc.length), 8)
      val side = Array.tabulate(n)(i => left(i) - right(i))
      val mid = Array.tabulate(n)(i => (left(i) + right(i)) >> 1)
      val (ch0, b0, ch1, b1) = assignment match {
        case 8 => (left, 16, side, 17)
        case 9 => (side, 17, right, 16)
        case _ => (mid, 16, side, 17)
      }
      writeSubframe(fw, ch0, b0)
      writeSubframe(fw, ch1, b1)
      fw.alignToByte()
      val frameBytes = fw.toBytes
      val c16 = crc16(frameBytes, 0, frameBytes.length)
      out.write(frameBytes)
      putBe16(out, c16)
      out.toByteArray
    }

    /** Transcode a canonical 16-bit WAV payload to FLAC (identical PCM) —
      * the fixture path that makes q164's sibling assets genuinely
      * compressed-audio without moving a single decoded sample. */
    private[graft] def transcodeFromWav(wav: Array[Byte]): Option[Array[Byte]] =
      WavCodec.decodePcm16(wav).map { case (sr, ch, pcm) => encode16(sr, ch, pcm) }
  }

  /** RIFF/WAVE, read and written in one place. The walk is hardened:
    * unsigned chunk sizes in Long, word-aligned, truncation-safe, unknown
    * chunks skipped. */
  private[graft] object Riff {
    final case class Fmt(format: Int, channels: Int, sampleRate: Long,
        blockAlign: Int, bits: Int, dataOff: Int, dataLen: Long) {
      /** The gate the transcoding codecs add to the walk's: at most 8
        * channels and a non-empty data chunk. */
      def transcodable: Boolean = channels <= 8 && dataLen > 0
    }

    /** The fmt and data chunks of a RIFF/WAVE stream, raw, for each codec
      * to apply its own format gate. None unless both chunks are present
      * with at least one channel and a sample rate in (0, 4 MHz]. A file
      * holding both chunks is at least 44 bytes long. */
    def walk(bytes: Array[Byte]): Option[Fmt] = {
      if (bytes.length < 44 || str(bytes, 0, 4) != "RIFF" ||
          str(bytes, 8, 4) != "WAVE") return None
      var pos = 12
      var format = -1; var channels = 0; var sampleRate = 0L
      var blockAlign = 0; var bits = 0
      var dataOff = -1; var dataLen = 0L
      var walking = true
      while (walking && pos + 8 <= bytes.length) {
        val id = str(bytes, pos, 4)
        val size = le32u(bytes, pos + 4)
        val body = pos + 8
        id match {
          // gate on the chunk's DECLARED size too (r14 ADVICE): a fmt
          // chunk declaring size<16 must not read the next chunk's
          // bytes as format fields
          case "fmt " if size >= 16 && body + 16 <= bytes.length =>
            format = le16(bytes, body); channels = le16(bytes, body + 2)
            sampleRate = le32u(bytes, body + 4); blockAlign = le16(bytes, body + 12)
            bits = le16(bytes, body + 14)
          case "data" =>
            dataOff = body; dataLen = math.min(size, (bytes.length - body).toLong)
          case _ => // skip LIST/INFO/fact/etc.
        }
        // LONG arithmetic: a hostile 32-bit size would overflow an Int
        // offset into a negative position (then crash the decode instead
        // of returning None). A chunk claiming to run past the buffer
        // also ends the walk — nothing can follow it.
        val next = body.toLong + size + (size & 1L) // chunks word-aligned
        if (next <= pos || next > bytes.length) walking = false
        else pos = next.toInt
      }
      // sampleRate parses as UNSIGNED 32-bit: a hostile 0xFFFFFFFF passes
      // a <=0 check and .toInt-wraps negative downstream — cap it so the
      // never-throw-never-corrupt contract holds (192 kHz is the realistic
      // ceiling; anything above is a malformed header)
      if (channels < 1 || sampleRate <= 0 || sampleRate > 4000000L || dataOff < 0) None
      else Some(Fmt(format, channels, sampleRate, blockAlign, bits, dataOff, dataLen))
    }

    /** The header of a RIFF/WAVE stream carrying `dataLen` bytes of
      * samples: a 16-byte fmt chunk — 20 bytes when the samples come in
      * blocks, with the extension cbSize = 2 and wSamplesPerBlock — then
      * an optional fact chunk (the frame count), then the data chunk
      * header. The byte rate is rate × blockAlign / samples per block. */
    def header(format: Int, channels: Int, sampleRate: Int, bits: Int,
        blockAlign: Int, dataLen: Int, samplesPerBlock: Option[Int] = None,
        fact: Boolean = false): Array[Byte] = {
      val fmtLen = if (samplesPerBlock.isEmpty) 16 else 20
      val out = new java.io.ByteArrayOutputStream(60)
      putAscii(out, "RIFF")
      putLe32(out, 4 + (8 + fmtLen) + (if (fact) 12 else 0) + 8 + dataLen)
      putAscii(out, "WAVE")
      putAscii(out, "fmt "); putLe32(out, fmtLen)
      putLe16(out, format); putLe16(out, channels); putLe32(out, sampleRate)
      putLe32(out, sampleRate * blockAlign / samplesPerBlock.getOrElse(1))
      putLe16(out, blockAlign); putLe16(out, bits)
      samplesPerBlock.foreach { n => putLe16(out, 2); putLe16(out, n) }
      if (fact) { putAscii(out, "fact"); putLe32(out, 4); putLe32(out, dataLen / blockAlign) }
      putAscii(out, "data"); putLe32(out, dataLen)
      out.toByteArray
    }
  }

  /** Canonical 16-bit PCM WAV bytes around interleaved samples — the
    * container every compressed-audio decode lands in, so features and
    * energy windows are container-invariant by construction. */
  private[graft] def pcmWavBytes(sampleRate: Int, channels: Int,
      pcm: Array[Short]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(44 + pcm.length * 2)
    out.write(Riff.header(1, channels, sampleRate, 16, channels * 2, pcm.length * 2))
    var i = 0
    while (i < pcm.length) { putLe16(out, pcm(i)); i += 1 }
    out.toByteArray
  }

  /** REAL G.711 μ-law / A-law decode (WAV format tags 7 and 6) — the
    * telephony-audio seam: both companding laws are exact integer
    * segment formulas (sign / exponent / mantissa), no tables, so the
    * decode is bit-identical on any platform. Decoded PCM lands as a
    * canonical in-memory WAV and re-enters [[WavCodec]], exactly like
    * [[FlacCodec]] — identical lattice PCM gives identical features and
    * energy windows whichever container carried it (the q226 corpus is
    * built ON the lattice so that invariance is exact). The encoders
    * exist for the spec's all-256-codes round-trip gates
    * (encode∘decode = identity on every code byte, with ONE documented
    * canonicalization: μ-law 0x7f — negative zero — decodes to 0 and
    * re-encodes as positive zero 0xff; G711AdpcmSpec carves out exactly
    * that byte). */
  object G711Codec extends WavTranscoder {
    /** μ-law code byte → linear PCM (G.711: bias 0x84, 8 segments).
      * Range ±32124; decode(0xff) = 0. */
    private[graft] def ulawToLinear(code: Int): Int = {
      val u = ~code & 0xff
      val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }

    /** Linear PCM → μ-law code byte (clip 32635, bias 0x84). */
    private[graft] def linearToUlaw(pcm0: Int): Int = {
      var pcm = pcm0
      var sign = 0
      if (pcm < 0) { pcm = -pcm; sign = 0x80 }
      if (pcm > 32635) pcm = 32635
      pcm += 0x84
      val exp = 31 - Integer.numberOfLeadingZeros(pcm >> 7) // 0..7 after clip
      val mant = (pcm >> (exp + 3)) & 0x0f
      ~(sign | (exp << 4) | mant) & 0xff
    }

    /** A-law code byte → linear PCM (G.711: 0x55 toggle, 8 segments).
      * Range ±32256; sign bit SET means positive. */
    private[graft] def alawToLinear(code: Int): Int = {
      val a = code ^ 0x55
      var t = (a & 0x0f) << 4
      val seg = (a & 0x70) >> 4
      if (seg == 0) t += 8
      else if (seg == 1) t += 0x108
      else t = (t + 0x108) << (seg - 1)
      if ((a & 0x80) != 0) t else -t
    }

    private val SegEnd = Array(0x1f, 0x3f, 0x7f, 0xff, 0x1ff, 0x3ff, 0x7ff, 0xfff)

    /** Linear PCM → A-law code byte (13-bit domain, segment search). */
    private[graft] def linearToAlaw(pcm0: Int): Int = {
      var pcm = pcm0 >> 3
      var mask = 0xd5
      if (pcm < 0) { mask = 0x55; pcm = -pcm - 1 }
      if (pcm > 0xfff) pcm = 0xfff
      var seg = 0
      while (pcm > SegEnd(seg)) seg += 1
      val mant = if (seg < 2) (pcm >> 1) & 0x0f else (pcm >> seg) & 0x0f
      ((seg << 4) | mant) ^ mask
    }

    /** G.711 WAV → canonical PCM16 WAV. None unless fmt tag is 6/7 with
      * 8-bit samples; never throws. */
    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] =
      try {
        Riff.walk(bytes).filter(_.transcodable).flatMap { f =>
          if ((f.format != 6 && f.format != 7) || f.bits != 8) None
          else {
            val n = f.dataLen.toInt
            if (n < f.channels) None
            else {
              val decode: Int => Int =
                if (f.format == 7) ulawToLinear else alawToLinear
              val pcm = new Array[Short](n - n % f.channels)
              var i = 0
              while (i < pcm.length) {
                pcm(i) = decode(bytes(f.dataOff + i) & 0xff).toShort
                i += 1
              }
              Some(pcmWavBytes(f.sampleRate.toInt, f.channels, pcm))
            }
          }
        }
      } catch {
        case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
      }

    /** Fixture wrapper: raw G.711 code bytes → a WAV container with fmt
      * tag 7 (μ-law) or 6 (A-law), 8-bit mono/stereo. */
    private[graft] def wrap(format: Int, sampleRate: Int, channels: Int,
        codes: Array[Byte]): Array[Byte] = {
      require(format == 6 || format == 7)
      Riff.header(format, channels, sampleRate, 8, channels, codes.length) ++ codes
    }
  }

  /** REAL IMA ADPCM decode (WAV format tag 0x11, the DVI/IMA 4-bit
    * profile): per-block per-channel headers (predictor, step index)
    * restart prediction at every block boundary — the property the q226
    * fixtures lean on (a tail-block edit cannot perturb earlier blocks).
    * Nibbles decode low-first through the canonical 89-entry step table;
    * a hostile step index clamps (never-crash contract). Decode lands as
    * canonical PCM WAV and re-enters [[WavCodec]] like FLAC and G.711. */
  object AdpcmCodec extends WavTranscoder {
    private[graft] val StepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
      50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190, 209,
      230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
      876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
      2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845,
      8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
      22385, 24623, 27086, 29794, 32767)
    private[graft] val IndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** One nibble through the IMA recurrence: (pred, index) → (pred',
      * index', sample). Exposed for the spec's independent replay. */
    private[graft] def stepNibble(pred0: Int, index0: Int, n: Int): (Int, Int) = {
      val s = StepTable(index0)
      var diff = s >> 3
      if ((n & 1) != 0) diff += s >> 2
      if ((n & 2) != 0) diff += s >> 1
      if ((n & 4) != 0) diff += s
      var pred = if ((n & 8) != 0) pred0 - diff else pred0 + diff
      if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
      var index = index0 + IndexTable(n & 7)
      if (index < 0) index = 0 else if (index > 88) index = 88
      (pred, index)
    }

    /** IMA ADPCM WAV → canonical PCM16 WAV. Mono and stereo (per-channel
      * 4-byte header words, 4-byte data words interleaved). None unless
      * fmt tag 0x11 with 4-bit samples; never throws.
      *
      * Decoder contract (r14 ADVICE, documented truncation): frames are
      * decoded in WHOLE blocks — `dataLen / blockAlign` — so a
      * real-world file with a short trailing partial block loses its
      * tail samples, and the fmt extension's wSamplesPerBlock is not
      * consulted (the per-block sample count is derived from blockAlign,
      * which is exact for the spec layout this decoder accepts). The
      * q226 lattice fixtures are generated in whole blocks, so the
      * truncation is unobservable on every declared face; routing
      * arbitrary external IMA WAVs here would need the partial-block
      * decode added first. */
    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] =
      try {
        Riff.walk(bytes).filter(_.transcodable).flatMap { f =>
          if (f.format != 0x11 || f.bits != 4 || f.channels > 2) None
          else {
            val ch = f.channels
            val ba = f.blockAlign
            if (ba < 4 * ch + 4 * ch || ba % (4 * ch) != 0) None
            else {
              val nBlocks = (f.dataLen / ba).toInt
              if (nBlocks == 0) None
              else {
                val samplesPerBlock = 1 + (ba - 4 * ch) * 2 / ch
                val pcm = new Array[Short](nBlocks * samplesPerBlock * ch)
                var outFrame = 0
                var b = 0
                while (b < nBlocks) {
                  val base = f.dataOff + b * ba
                  val pred = new Array[Int](ch)
                  val idx = new Array[Int](ch)
                  var c = 0
                  while (c < ch) {
                    val ho = base + 4 * c
                    val p = le16(bytes, ho).toShort
                    pred(c) = p.toInt
                    idx(c) = math.min(88, bytes(ho + 2) & 0xff) // clamp hostile index
                    pcm(outFrame * ch + c) = p
                    c += 1
                  }
                  outFrame += 1
                  // data: 4-byte words round-robin per channel; each byte
                  // carries two nibbles, low first
                  val dataBytesPerCh = (ba - 4 * ch) / ch
                  val words = dataBytesPerCh / 4
                  var w = 0
                  while (w < words) {
                    var c2 = 0
                    while (c2 < ch) {
                      val wo = base + 4 * ch + (w * ch + c2) * 4
                      var k = 0
                      while (k < 4) {
                        val byte = bytes(wo + k) & 0xff
                        var half = 0
                        while (half < 2) {
                          val n = if (half == 0) byte & 0x0f else (byte >> 4) & 0x0f
                          val (p2, i2) = stepNibble(pred(c2), idx(c2), n)
                          pred(c2) = p2; idx(c2) = i2
                          val frame = outFrame + w * 8 + k * 2 + half
                          pcm(frame * ch + c2) = p2.toShort
                          half += 1
                        }
                        k += 1
                      }
                      c2 += 1
                    }
                    w += 1
                  }
                  outFrame += words * 8
                  b += 1
                }
                Some(pcmWavBytes(f.sampleRate.toInt, ch, pcm))
              }
            }
          }
        }
      } catch {
        case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
      }

    /** Fixture wrapper: raw block bytes (headers + nibbles, `blockAlign`
      * each) → a WAV container with fmt tag 0x11 and the fmt extension
      * (wSamplesPerBlock) real decoders expect. */
    private[graft] def wrap(sampleRate: Int, channels: Int, blockAlign: Int,
        blocks: Array[Byte]): Array[Byte] = {
      require(blocks.length % blockAlign == 0)
      val samplesPerBlock = 1 + (blockAlign - 4 * channels) * 2 / channels
      Riff.header(0x11, channels, sampleRate, 4, blockAlign, blocks.length,
        Some(samplesPerBlock)) ++ blocks
    }
  }

  /** PCM bit-depth family decoder — pure JVM (r16): the WAV variants a
    * real audio corpus actually contains beyond canonical 16-bit —
    * 8-bit UNSIGNED PCM (WAV's convention below 9 bits; (v−128)·256),
    * 24-bit little-endian signed PCM (narrowed to the top 16 bits —
    * the deterministic truncation, no dither), and 32-bit IEEE-754
    * float (format tag 3; symmetric ±32767 scaling with round-half-
    * even: `rint(x·32767)` clamped — chosen over the asymmetric 32768
    * convention because it makes encode∘decode the identity on every
    * 16-bit value, which the spec proves exhaustively). Uses the
    * hardened [[Riff]] walk; canonical 16-bit/format-1 returns None
    * (that is [[WavCodec]]'s own path). Decoded PCM lands as canonical
    * WAV and re-enters [[WavCodec]] like every non-canonical audio
    * path, so features and energy windows are depth-invariant wherever
    * the depth conversion is lossless. */
  object PcmDepthCodec extends WavTranscoder {

    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] =
      try {
        Riff.walk(bytes).filter(_.transcodable).flatMap { f =>
          val ok = (f.format, f.bits) match {
            case (1, 8) | (1, 24) | (3, 32) => true
            case _                          => false
          }
          if (!ok) None
          else {
            val bpf = f.bits / 8
            val n = (f.dataLen / bpf).toInt
            if (n < f.channels) None
            else {
              val pcm = new Array[Short](n - n % f.channels)
              var i = 0
              if (f.bits == 8) {
                while (i < pcm.length) {
                  pcm(i) = (((bytes(f.dataOff + i) & 0xff) - 128) << 8).toShort
                  i += 1
                }
              } else if (f.bits == 24) {
                while (i < pcm.length) {
                  val o = f.dataOff + 3 * i // LE: top 16 of the 24
                  pcm(i) = le16(bytes, o + 1).toShort
                  i += 1
                }
              } else {
                while (i < pcm.length) {
                  val o = f.dataOff + 4 * i
                  val x = java.lang.Float.intBitsToFloat(le32(bytes, o))
                  val v = // NaN canonicalizes to 0; ±inf clamp with the range
                    if (java.lang.Float.isNaN(x)) 0.0
                    else math.rint(x.toDouble * 32767.0)
                  pcm(i) = math.max(-32768.0, math.min(32767.0, v)).toShort
                  i += 1
                }
              }
              Some(pcmWavBytes(f.sampleRate.toInt, f.channels, pcm))
            }
          }
        }
      } catch {
        case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
      }

    /** 24-bit WAV around 16-bit PCM (v << 8: decode narrows back
      * exactly — lossless by construction, the q238 corpus leg). */
    private[graft] def encode24(sampleRate: Int, channels: Int,
        pcm: Array[Short]): Array[Byte] = {
      val data = new java.io.ByteArrayOutputStream(pcm.length * 3)
      var i = 0
      while (i < pcm.length) { data.write(0); putLe16(data, pcm(i)); i += 1 } // v << 8
      Riff.header(1, channels, sampleRate, 24, channels * 3, data.size) ++ data.toByteArray
    }

    /** Float32 WAV around 16-bit PCM (x = v / 32767f: decode's
      * rint(x·32767) is the identity on every 16-bit value — proven
      * exhaustively in the spec; the other q238 corpus leg). */
    private[graft] def encodeFloat32(sampleRate: Int, channels: Int,
        pcm: Array[Short]): Array[Byte] = {
      val data = new java.io.ByteArrayOutputStream(pcm.length * 4)
      var i = 0
      while (i < pcm.length) {
        putLe32(data, java.lang.Float.floatToIntBits(pcm(i) / 32767.0f)); i += 1
      }
      // float WAVs conventionally carry a fact chunk; the decoder skips it
      Riff.header(3, channels, sampleRate, 32, channels * 4, data.size,
        fact = true) ++ data.toByteArray
    }

    /** 8-bit unsigned WAV around ON-LATTICE 16-bit PCM (samples must be
      * (u−128)·256 — the q226 on-lattice discipline; spec fixture). */
    private[graft] def encode8(sampleRate: Int, channels: Int,
        pcm: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](pcm.length)
      var i = 0
      while (i < pcm.length) {
        require(pcm(i) % 256 == 0, s"sample $i=${pcm(i)} off the 8-bit lattice")
        data(i) = ((pcm(i) >> 8) + 128).toByte
        i += 1
      }
      Riff.header(1, channels, sampleRate, 8, channels, data.length) ++ data
    }

    private[graft] def transcodeFromWav24(wav: Array[Byte]): Option[Array[Byte]] =
      WavCodec.decodePcm16(wav).map { case (sr, ch, pcm) => encode24(sr, ch, pcm) }

    private[graft] def transcodeFromWavFloat(wav: Array[Byte]): Option[Array[Byte]] =
      WavCodec.decodePcm16(wav).map { case (sr, ch, pcm) => encodeFloat32(sr, ch, pcm) }
  }

  /** AIFF / AIFF-C decoder — pure JVM, zero codec libraries (r16; the
    * audio twin of the TIFF move: the BIG-endian container family).
    * Wire format is public (Apple AIFF 1.3 / AIFF-C): `FORM` +
    * `AIFF`/`AIFC` IFF chunk walk (word-aligned, truncation-safe, the
    * [[Riff]] hardening), `COMM` with the 80-bit IEEE-754 EXTENDED
    * sample rate (sign / 15-bit exponent / explicit-integer-bit 64-bit
    * mantissa — the format's famous wart, parsed exactly), `SSND` with
    * its offset/blockSize prologue. Sample formats: 16-bit big-endian
    * PCM (plain AIFF, and AIFC compression `NONE`), 16-bit
    * LITTLE-endian PCM (AIFC `sowt` — the byte-swapped Mac profile),
    * and 8-bit signed PCM (widened ×256). Compressed AIFC (`ulaw`,
    * `ima4`, …) returns None — those lattices already live in
    * [[G711Codec]]/[[AdpcmCodec]] behind their WAV tags. Decoded PCM
    * lands as a canonical in-memory WAV and re-enters [[WavCodec]],
    * exactly like FLAC/G.711 — identical PCM gives identical features
    * and energy windows whichever container carried it. */
  object AiffCodec extends WavTranscoder {

    /** 80-bit extended float at `off` → sample rate (Long), or -1 when
      * non-finite / non-positive / absurd. value = mant · 2^(exp−16383−63). */
    private def extendedToRate(bytes: Array[Byte], off: Int): Long = {
      if (off + 10 > bytes.length) return -1
      val se = be16(bytes, off)
      if ((se & 0x8000) != 0) return -1 // negative rate
      val exp = se & 0x7fff
      var mant = 0L
      var i = 0
      while (i < 8) { mant = (mant << 8) | (bytes(off + 2 + i) & 0xffL); i += 1 }
      if (exp == 0 && mant == 0) return -1
      if (exp == 0x7fff) return -1 // inf / nan
      val shift = exp - 16383 - 63
      // realistic rates fit far inside a Long; round to nearest integer
      if (shift > 0) {
        if (shift > 8) return -1 // >= 2^72 — absurd
        mant << shift
      } else if (shift < -63) 0L
      else {
        val s = -shift
        (mant >>> s) + ((mant >>> (s - 1)) & 1L) // round half up
      }
    }

    /** Sample rate → 80-bit extended bytes (normalized, exact for
      * integer rates — the encoder half of the COMM wart). */
    private[graft] def rateToExtended(rate: Long): Array[Byte] = {
      require(rate > 0, s"rate $rate")
      val nlz = java.lang.Long.numberOfLeadingZeros(rate)
      val mant = rate << nlz // integer bit at bit 63
      val exp = 16383 + 63 - nlz
      val out = new Array[Byte](10)
      out(0) = ((exp >> 8) & 0x7f).toByte; out(1) = (exp & 0xff).toByte
      var i = 0
      while (i < 8) { out(2 + i) = ((mant >>> (56 - 8 * i)) & 0xff).toByte; i += 1 }
      out
    }

    /** AIFF/AIFC → canonical PCM16 WAV. None unless the form, COMM and
      * SSND chunks all parse and the sample format is one of the three
      * PCM profiles; never throws. */
    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] = {
      if (bytes.length < 12 + 8 || str(bytes, 0, 4) != "FORM") return None
      val form = str(bytes, 8, 4)
      if (form != "AIFF" && form != "AIFC") return None
      var pos = 12
      var channels = 0; var sampleSize = 0; var rate = -1L
      var nFrames = -1L
      var compression = if (form == "AIFC") "" else "NONE"
      var dataOff = -1; var dataLen = 0L
      var walking = true
      while (walking && pos + 8 <= bytes.length) {
        val id = str(bytes, pos, 4)
        val size = be32(bytes, pos + 4) // unsigned-as-Long
        val body = pos + 8
        id match {
          // COMM: channels u16, numSampleFrames u32, sampleSize u16,
          // extended-80 rate; AIFC adds a compression-type fourcc. Gate
          // on the DECLARED size so a short chunk never reads its
          // successor's bytes as fields (the Riff fmt hardening).
          case "COMM" if size >= 18 && body + 18 <= bytes.length =>
            channels = be16(bytes, body)
            nFrames = be32(bytes, body + 2)
            sampleSize = be16(bytes, body + 6)
            rate = extendedToRate(bytes, body + 8)
            if (form == "AIFC" && size >= 22 && body + 22 <= bytes.length)
              compression = str(bytes, body + 18, 4)
          case "SSND" if size >= 8 && body + 8 <= bytes.length =>
            // offset + blockSize prologue precede the sample bytes
            val off = be32(bytes, body)
            if (off >= 0 && off <= size - 8) {
              dataOff = body + 8 + off.toInt
              dataLen = math.min(size - 8 - off, (bytes.length - dataOff).toLong)
            }
          case _ => // skip MARK/INST/annotation/etc.
        }
        val next = body.toLong + size + (size & 1L)
        if (next <= pos || next > bytes.length) walking = false
        else pos = next.toInt
      }
      val le = compression == "sowt"
      val pcmOk = compression == "NONE" || le
      if (!pcmOk || channels < 1 || channels > 8 || rate <= 0 ||
        rate > 4000000L || dataOff < 0 || dataLen <= 0 ||
        (sampleSize != 16 && sampleSize != 8)) return None
      val bytesPerFrame = channels * (sampleSize / 8)
      val frames = math.min(
        if (nFrames >= 0) nFrames else Long.MaxValue,
        dataLen / bytesPerFrame)
      if (frames <= 0 || frames > Int.MaxValue / (2L * channels)) return None
      val pcm = new Array[Short]((frames * channels).toInt)
      var i = 0
      if (sampleSize == 16) {
        while (i < pcm.length) {
          val o = dataOff + 2 * i
          pcm(i) = (if (le) le16(bytes, o) else be16(bytes, o)).toShort
          i += 1
        }
      } else {
        while (i < pcm.length) { // 8-bit AIFF samples are SIGNED
          pcm(i) = (bytes(dataOff + i) * 256).toShort
          i += 1
        }
      }
      Some(pcmWavBytes(rate.toInt, channels, pcm))
    }

    /** Minimal real encoder in two byte-disjoint LOSSLESS profiles:
      * 0 = plain `AIFF` with big-endian PCM16; 1 = `AIFC` compression
      * `sowt` with LITTLE-endian PCM16 (every sample's bytes swapped —
      * the stored stream differs from profile 0 at nearly every data
      * byte, the TIFF-byte-order move) plus the FVER chunk AIFC
      * requires. Both carry the PCM verbatim, so an AIFF trans-code of
      * a corpus is hash-invariant — the q164-pin gate design. */
    private[graft] def encode16(sampleRate: Int, channels: Int,
        pcm: Array[Short], profile: Int = 0): Array[Byte] = {
      require(profile == 0 || profile == 1, s"profile $profile")
      require(channels >= 1 && pcm.length % channels == 0)
      val le = profile == 1
      val out = new java.io.ByteArrayOutputStream(64 + pcm.length * 2)
      val nFrames = pcm.length / channels
      val ssndSize = 8 + pcm.length * 2
      val commSize = if (profile == 0) 18 else 22 + 2 // + pascal-string pad
      val fverSize = if (profile == 0) 0 else 8 + 4
      val formSize = 4 + fverSize + 8 + commSize + 8 + ssndSize
      putAscii(out, "FORM"); putBe32(out, formSize)
      putAscii(out, if (profile == 0) "AIFF" else "AIFC")
      if (profile == 1) { // AIFC version 1
        putAscii(out, "FVER"); putBe32(out, 4); putBe32(out, 0xA2805140L)
      }
      putAscii(out, "COMM"); putBe32(out, commSize)
      putBe16(out, channels); putBe32(out, nFrames); putBe16(out, 16)
      out.write(rateToExtended(sampleRate.toLong), 0, 10)
      if (profile == 1) { putAscii(out, "sowt"); out.write(0); out.write(0) } // empty pstring, padded
      putAscii(out, "SSND"); putBe32(out, ssndSize); putBe32(out, 0); putBe32(out, 0) // offset, blockSize
      var i = 0
      while (i < pcm.length) { put16(out, pcm(i), le); i += 1 }
      out.toByteArray
    }

    /** Transcode a canonical 16-bit WAV payload to AIFF/AIFC (identical
      * PCM) — the q237 fixture path, like [[FlacCodec.transcodeFromWav]]. */
    private[graft] def transcodeFromWav(wav: Array[Byte], profile: Int = 0): Option[Array[Byte]] =
      WavCodec.decodePcm16(wav).map { case (sr, ch, pcm) => encode16(sr, ch, pcm, profile) }
  }

  /** Sun/NeXT AU (`.snd`) decoder — pure JVM, zero codec libraries
    * (r16; the simplest real audio container, and the one whose μ-law
    * encoding predates WAV's). Wire format is public: 24-byte
    * big-endian header (magic `.snd`, data offset ≥ 24 with an
    * optional annotation field skipped by honoring it, data size —
    * 0xffffffff means "rest of stream" — encoding, sample rate,
    * channels). Encodings: 1 = G.711 μ-law (the [[G711Codec]] exact
    * segment formula), 3 = 16-bit big-endian linear PCM, 27 = G.711
    * A-law. Everything else (floats, 24/32-bit, compressed) returns
    * None. Decoded PCM lands as canonical WAV and re-enters
    * [[WavCodec]] like every compressed-audio path. */
  object AuCodec extends WavTranscoder {

    private[graft] def toWav(bytes: Array[Byte]): Option[Array[Byte]] = {
      if (bytes.length < 24 || str(bytes, 0, 4) != ".snd") return None
      val dataOff = be32(bytes, 4)
      val dataSize = be32(bytes, 8)
      val encoding = be32(bytes, 12)
      val rate = be32(bytes, 16)
      val channels = be32(bytes, 20)
      if (dataOff < 24 || dataOff > bytes.length) return None
      if (channels < 1 || channels > 8 || rate <= 0 || rate > 4000000L) return None
      val avail = bytes.length - dataOff
      val dataLen = // 0xffffffff = unknown → rest of stream
        (if (dataSize == 0xffffffffL) avail else math.min(dataSize, avail)).toInt
      if (dataLen <= 0) return None
      val off = dataOff.toInt
      encoding match {
        case 3 => // 16-bit BE linear PCM
          val n = dataLen / 2
          if (n < channels) return None
          val pcm = new Array[Short](n - n % channels.toInt)
          var i = 0
          while (i < pcm.length) {
            pcm(i) = be16(bytes, off + 2 * i).toShort
            i += 1
          }
          Some(pcmWavBytes(rate.toInt, channels.toInt, pcm))
        case 1 | 27 => // G.711 μ-law / A-law code bytes
          if (dataLen < channels) return None
          val decode: Int => Int =
            if (encoding == 1) G711Codec.ulawToLinear else G711Codec.alawToLinear
          val pcm = new Array[Short](dataLen - dataLen % channels.toInt)
          var i = 0
          while (i < pcm.length) {
            pcm(i) = decode(bytes(off + i) & 0xff).toShort
            i += 1
          }
          Some(pcmWavBytes(rate.toInt, channels.toInt, pcm))
        case _ => None
      }
    }

    /** Minimal real encoder: 16-bit BE linear PCM (encoding 3) behind a
      * 28-byte header (data offset 28 — a 4-byte annotation field, so
      * the offset-honoring path is on the corpus, not just the spec).
      * Lossless, so an AU trans-code is hash-invariant (q237). */
    private[graft] def encode16(sampleRate: Int, channels: Int,
        pcm: Array[Short]): Array[Byte] = {
      require(channels >= 1 && pcm.length % channels == 0)
      val out = new java.io.ByteArrayOutputStream(28 + pcm.length * 2)
      putAscii(out, ".snd")
      Seq(28L, pcm.length * 2L, 3L, sampleRate.toLong, channels.toLong)
        .foreach(putBe32(out, _))
      putBe32(out, 0) // 4-byte annotation (zero) — dataOff 28 skips it
      var i = 0
      while (i < pcm.length) { putBe16(out, pcm(i)); i += 1 }
      out.toByteArray
    }

    private[graft] def transcodeFromWav(wav: Array[Byte]): Option[Array[Byte]] =
      WavCodec.decodePcm16(wav).map { case (sr, ch, pcm) => encode16(sr, ch, pcm) }
  }

  /** Deterministic fake audio decode for formats without a lib-free
    * decoder here (MP3/OGG/AAC) — the audio [[StubCodec]]. */
  object StubAudioCodec extends AudioCodec {
    def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
      val h = java.util.Arrays.hashCode(bytes)
      val feature = Array.tabulate(8)(i =>
        (((h * 31 + i * 2654435761L) & 0xffff).toFloat) / 65535.0f)
      Some((8000 + math.abs(h % 40000), 1 + math.abs(h % 2),
        1L + bytes.length, feature))
    }
  }

  /** Production routing for audio: real PCM WAV, FLAC, G.711 (μ-law /
    * A-law) and IMA ADPCM decode; stub only for the remaining perceptual
    * codecs (MP3/OGG/AAC). */
  object DefaultAudioCodec extends AudioCodec {
    /** Every real audio decoder in routing order; the first to accept
      * the bytes wins. */
    private val realAudioCodecs: Seq[RealAudioCodec] = Seq(WavCodec, FlacCodec,
      G711Codec, AdpcmCodec, PcmDepthCodec, AiffCodec, AuCodec)

    def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
      firstDecode(realAudioCodecs)(_.decodeAudio(bytes))
        .orElse(StubAudioCodec.decodeAudio(bytes))

    /** Container-routing twin of the q164/q226 window decode: PCM WAV
      * bytes walk the RIFF path; FLAC, G.711, ADPCM, AIFF and AU bytes
      * decode and re-enter it — identical windows for identical PCM,
      * whichever container carried it. */
    private[graft] def decodeEnergyWindows(bytes: Array[Byte],
        nWindows: Int = 65): Option[Array[Long]] =
      firstDecode(realAudioCodecs)(_.decodeEnergyWindows(bytes, nWindows))
  }

  /** STUB codec — deterministic fake decode keyed on content bytes, for
    * formats whose decoders need media libraries this container lacks
    * (since r14 that is only predictive-codec video payloads; images are
    * all real). Never returns None: the deterministic fake stands
    * in so pipeline plumbing stays testable end-to-end. */
  object StubCodec extends Codec {
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] = {
      val h = java.util.Arrays.hashCode(bytes)
      val width = 64 + math.abs(h % 512)
      val height = 64 + math.abs((h / 512) % 512)
      val feature = Array.tabulate(8)(i =>
        (((h * 31 + i * 2654435761L) & 0xffff).toFloat) / 65535.0f)
      Some((width, height, feature))
    }
    def frameCount(bytes: Array[Byte]): Int = 1 + (bytes.length % 7)
  }

  /** Production routing: real decode where a lib-free decoder exists
    * (PNM, PNG, baseline + progressive JPEG), deterministic stub
    * elsewhere (predictive-codec video frames reached as still images;
    * MJPEG VIDEO payloads route through [[decodeVideoFrameLumas]]). */
  object DefaultCodec extends Codec {
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] =
      firstDecode(realCodecs)(_.decodeImage(bytes)).orElse(StubCodec.decodeImage(bytes))
  }

  /** Decode + feature-extract, batch-per-partition (the mapInPandas shape:
    * iterator-of-batches in, iterator-of-batches out — here Scala's
    * mapPartitions, which is the idiomatic JVM equivalent). */
  def imageFeatures(
      assets: Dataset[MediaAsset],
      codec: Codec = DefaultCodec): Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        codec.decodeImage(a.bytes).map { case (w, h, f) =>
          ImageFeatures(a.asset_id, w, h, a.bytes.length.toLong, f)
        }
      }
    }
  }

  /** Audio decode + feature-extract, batch-per-partition — the same
    * narrow mapPartitions shape as [[imageFeatures]]: binary payloads
    * never shuffle, only the small extracted features flow onward. */
  def audioFeatures(
      assets: Dataset[MediaAsset],
      codec: AudioCodec = DefaultAudioCodec): Dataset[AudioFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        codec.decodeAudio(a.bytes).map { case (sr, ch, n, f) =>
          AudioFeatures(a.asset_id, sr, ch, n, n.toDouble / sr,
            a.bytes.length.toLong, f)
        }
      }
    }
  }

  /** One located video sample (frame) inside an MP4 container: byte
    * range in the file, keyframe flag, decode timestamp in track
    * timescale units. The container-level record frame SAMPLING needs —
    * codec DECODE of the payload is a separate (stubbed) concern. */
  case class Mp4Frame(index: Int, offset: Long, size: Long,
      isKey: Boolean, dts: Long)

  /** REAL lib-free ISO BMFF (MP4) container parser — the video half of
    * the r14 codec push: frame sampling no longer needs a decoder,
    * because the container itself addresses every sample. Walks
    * ftyp/moov/trak/mdia/minf/stbl, takes the FIRST video ('vide'
    * handler) track, and resolves the four sample tables into one
    * per-frame record list:
    *
    *   stsz (sizes) × stsc (sample→chunk runs) × stco/co64 (chunk
    *   offsets) → byte ranges;  stss (sync table; absent = all sync) →
    *   keyframe flags;  stts (decode deltas) → dts.
    *
    * Codec payload bytes are NOT interpreted (that is the decode seam,
    * real for MJPEG samples via [[decodeVideoFrameLumas]], stubbed for
    * predictive codecs); everything the SAMPLING pipeline needs —
    * real payload byte ranges to hash, keyframe structure to stratify
    * on, timestamps to window on — comes from the container walk.
    * Bounds-checked and capped (≤ 2²⁰ samples, depth ≤ 16); returns
    * None on any malformation, never throws. */
  object Mp4Container {
    private val containers = Set("moov", "trak", "mdia", "minf", "stbl")

    def parse(bytes: Array[Byte]): Option[(String, Long, Seq[Mp4Frame])] = {
      try {
        if (bytes.length < 16) return None
        // the file must lead with a well-formed top-level box (ftyp by
        // convention; we only require structural sanity)
        var sawFtyp = false

        // collected sample tables of the first video track
        var handler = ""
        var codec = ""
        var timescale = 0L
        var sizes: Array[Long] = null          // per-sample sizes
        var chunkOffsets: Array[Long] = null   // per-chunk file offsets
        var stsc: Array[(Long, Long)] = null   // (firstChunk, samplesPerChunk)
        var sync: Array[Long] = null           // 1-based keyframe indices, null = all
        var stts: Array[(Long, Long)] = null   // (count, delta)
        var videoDone = false

        def walk(from: Int, until: Int, depth: Int): Unit = {
          if (depth > 16) throw new IllegalStateException("box depth")
          var pos = from
          while (pos + 8 <= until && !videoDone) {
            var size = be32(bytes, pos)
            val tpe = str(bytes, pos + 4, 4)
            var body = pos + 8
            if (size == 1) {
              if (pos + 16 > until) return
              size = be64(bytes, pos + 8)
              body = pos + 16
            } else if (size == 0) size = until - pos
            if (size < (body - pos) || pos + size > until) return
            val end = (pos + size).toInt
            tpe match {
              case "ftyp" => sawFtyp = true
              case t if containers(t) =>
                // a new trak resets the per-track state unless the video
                // track is already fully collected
                if (t == "trak") {
                  handler = ""; codec = ""; timescale = 0L
                  sizes = null; chunkOffsets = null; stsc = null
                  sync = null; stts = null
                }
                walk(body, end, depth + 1)
                if (t == "trak" && handler == "vide" && sizes != null &&
                    chunkOffsets != null && stsc != null)
                  videoDone = true
              case "hdlr" if body + 12 <= end =>
                handler = str(bytes, body + 8, 4)
              case "mdhd" if body + 16 <= end =>
                val version = bytes(body) & 0xff
                timescale = if (version == 1) be32(bytes, body + 20) else be32(bytes, body + 12)
              case "stsd" if body + 16 <= end =>
                codec = str(bytes, body + 12, 4) // first sample-description fourcc
              case "stsz" if body + 12 <= end =>
                val uniform = be32(bytes, body + 4)
                val n = be32(bytes, body + 8)
                if (n > (1L << 20)) throw new IllegalStateException("stsz cap")
                sizes =
                  if (uniform != 0) Array.fill(n.toInt)(uniform)
                  else {
                    if (body + 12 + 4L * n > end) throw new IllegalStateException("stsz trunc")
                    Array.tabulate(n.toInt)(i => be32(bytes, body + 12 + 4 * i))
                  }
              case "stco" if body + 8 <= end =>
                val n = be32(bytes, body + 4)
                if (n > (1L << 20) || body + 8 + 4L * n > end)
                  throw new IllegalStateException("stco")
                chunkOffsets = Array.tabulate(n.toInt)(i => be32(bytes, body + 8 + 4 * i))
              case "co64" if body + 8 <= end =>
                val n = be32(bytes, body + 4)
                if (n > (1L << 20) || body + 8 + 8L * n > end)
                  throw new IllegalStateException("co64")
                chunkOffsets = Array.tabulate(n.toInt)(i => be64(bytes, body + 8 + 8 * i))
              case "stsc" if body + 8 <= end =>
                val n = be32(bytes, body + 4)
                if (n > (1L << 20) || body + 8 + 12L * n > end)
                  throw new IllegalStateException("stsc")
                stsc = Array.tabulate(n.toInt)(i =>
                  (be32(bytes, body + 8 + 12 * i), be32(bytes, body + 12 + 12 * i)))
              case "stss" if body + 8 <= end =>
                val n = be32(bytes, body + 4)
                if (n > (1L << 20) || body + 8 + 4L * n > end)
                  throw new IllegalStateException("stss")
                sync = Array.tabulate(n.toInt)(i => be32(bytes, body + 8 + 4 * i))
              case "stts" if body + 8 <= end =>
                val n = be32(bytes, body + 4)
                if (n > (1L << 20) || body + 8 + 8L * n > end)
                  throw new IllegalStateException("stts")
                stts = Array.tabulate(n.toInt)(i =>
                  (be32(bytes, body + 8 + 8 * i), be32(bytes, body + 12 + 8 * i)))
              case _ => () // mdat / free / unknown: skip
            }
            pos = end
          }
        }
        walk(0, bytes.length, 0)
        if (!sawFtyp || !videoDone) return None
        val nSamples = sizes.length
        // sample → chunk assignment from the stsc runs
        val keySet: Set[Long] = if (sync == null) null else sync.toSet
        val frames = new scala.collection.mutable.ArrayBuffer[Mp4Frame](nSamples)
        var sample = 0
        var dts = 0L
        var sttsIdx = 0
        var sttsLeft = if (stts != null && stts.nonEmpty) stts(0)._1 else Long.MaxValue
        var run = 0
        var chunk = 0 // 0-based
        while (sample < nSamples && chunk < chunkOffsets.length) {
          val perChunk = stsc(run)._2.toInt
          val nextRunFirst =
            if (run + 1 < stsc.length) stsc(run + 1)._1 - 1 else Long.MaxValue
          var off = chunkOffsets(chunk)
          var i = 0
          while (i < perChunk && sample < nSamples) {
            val sz = sizes(sample)
            if (off < 0 || off + sz > bytes.length) return None
            val isKey = keySet == null || keySet.contains(sample + 1L)
            frames += Mp4Frame(sample, off, sz, isKey, dts)
            if (stts != null && stts.nonEmpty) {
              dts += stts(sttsIdx)._2
              sttsLeft -= 1
              if (sttsLeft == 0 && sttsIdx + 1 < stts.length) {
                sttsIdx += 1; sttsLeft = stts(sttsIdx)._1
              }
            }
            off += sz
            sample += 1
            i += 1
          }
          chunk += 1
          if (chunk >= nextRunFirst && run + 1 < stsc.length) run += 1
        }
        if (frames.isEmpty) return None
        Some((codec, timescale, frames.toSeq))
      } catch {
        case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
             _: NegativeArraySizeException => None
      }
    }

    /** Minimal single-track muxer for fixtures and the round-trip gate:
      * ftyp + mdat(payloads) + moov/trak/mdia(hdlr 'vide', mdhd
      * timescale)/minf/stbl(stsd fourcc, stts uniform delta, stsc one
      * run per chunkSize, stsz table, stss keyframes, stco). Payloads
      * land in `chunkSize`-sample chunks so the stsc/stco resolution is
      * genuinely exercised. */
    private[graft] def mux(samples: Seq[Array[Byte]], keyframes: Set[Int],
        codec: String = "avc1", timescale: Long = 600, delta: Long = 20,
        chunkSize: Int = 3, uniformStsz: Boolean = false,
        use64: Boolean = false): Array[Byte] = {
      require(samples.nonEmpty && chunkSize >= 1)
      require(!uniformStsz || samples.map(_.length).distinct.size == 1,
        "uniform stsz needs equal-size samples")
      /** Big-endian 32-bit fields. */
      def ints(vs: Long*): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream(4 * vs.length)
        vs.foreach(putBe32(out, _))
        out.toByteArray
      }
      def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
        val body = payload.flatten.toArray
        ints(body.length + 8L) ++ tpe.getBytes("US-ASCII") ++ body
      }
      val ftyp = box("ftyp", "isom".getBytes, ints(512), "isomiso2".getBytes)
      val mdatPayload = samples.flatten.toArray
      val mdat = box("mdat", mdatPayload)
      val mdatDataStart = ftyp.length + 8L
      val chunks = samples.grouped(chunkSize).toSeq
      val chunkOffs = chunks.scanLeft(mdatDataStart)((o, c) =>
        o + c.map(_.length.toLong).sum).init
      val stsd = box("stsd", ints(0, 1),
        box(codec, Array.fill[Byte](8)(0)))
      val stts = box("stts", ints(0, 1, samples.size.toLong, delta))
      val lastPer = samples.size - chunkSize * (chunks.size - 1)
      val stscRuns: Seq[Long] =
        if (chunks.size == 1 || lastPer == chunkSize) Seq(1, chunkSize.toLong, 1)
        else Seq(1, chunkSize.toLong, 1, chunks.size.toLong, lastPer.toLong, 1)
      val stsc = box("stsc", ints(0, stscRuns.size / 3) ++ ints(stscRuns: _*))
      val stsz =
        if (uniformStsz)
          box("stsz", ints(0, samples.head.length.toLong, samples.size.toLong))
        else box("stsz", ints(0, 0, samples.size.toLong),
          ints(samples.map(_.length.toLong): _*))
      val stco =
        if (use64) box("co64", ints(0, chunks.size.toLong),
          ints(chunkOffs.flatMap(o => Seq(o >> 32, o)): _*))
        else box("stco", ints(0, chunks.size.toLong), ints(chunkOffs: _*))
      val stss =
        if (keyframes.isEmpty) Array.emptyByteArray
        else box("stss", ints(0, keyframes.size.toLong),
          ints(keyframes.toSeq.sorted.map(_ + 1L): _*))
      val stbl = box("stbl", stsd, stts, stsc, stsz, stco, stss)
      val minf = box("minf", stbl)
      val mdhd = box("mdhd", ints(0, 0, 0, timescale, 0))
      val hdlr = box("hdlr", ints(0, 0), "vide".getBytes("US-ASCII"),
        Array.fill[Byte](12)(0))
      val mdia = box("mdia", mdhd, hdlr, minf)
      val trak = box("trak", mdia)
      val moov = box("moov", trak)
      ftyp ++ mdat ++ moov
    }
  }

  /** Frame sampling: every k-th frame of each video, frames addressed by
    * content hash (K3-compatible keys for a downstream blob store).
    * REAL for MP4 containers since r14: [[Mp4Container]] resolves the
    * sample tables and each sampled frame's sha keys its ACTUAL payload
    * bytes out of mdat — no codec decode needed for sampling (decode
    * stays the stub seam). Non-MP4 payloads keep the deterministic stub
    * so the plumbing stays testable for formats without a parser. */
  def sampleFrames(assets: Dataset[MediaAsset], everyK: Int = 2): Dataset[FrameSample] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.flatMap { a =>
        Mp4Container.parse(a.bytes) match {
          case Some((_, _, frames)) =>
            frames.iterator.filter(_.index % everyK == 0).map { f =>
              md.reset()
              md.update(a.bytes, f.offset.toInt, f.size.toInt)
              FrameSample(a.asset_id, f.index,
                md.digest().map("%02x".format(_)).mkString)
            }
          case None =>
            val n = StubCodec.frameCount(a.bytes)
            (0 until n by everyK).iterator.map { i =>
              md.reset()
              md.update(a.bytes)
              md.update(BigInt(i).toByteArray)
              FrameSample(a.asset_id, i, md.digest().map("%02x".format(_)).mkString)
            }
        }
      }
    }
  }

  /** Deterministic MP4 corpus from the documents table — the video twin
    * of the PNM/WAV fixture generators: each doc becomes a real ISO BMFF
    * container (ftyp + mdat + full moov sample tables via
    * [[Mp4Container.mux]]) holding 3 + doc_id % 5 frames whose payloads
    * are the doc's md5 blocks; every 3rd frame is a sync sample, chunks
    * hold 3 samples so stsc/stco resolution is exercised on every
    * asset. */
  def syntheticMp4(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    spreadByDocId(docs.select(col("doc_id"), col("text"))).as[(Long, String)].map { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = (3 + id % 5).toInt
      val frames = (0 until n).map(i => md.digest(s"$text@f$i".getBytes("UTF-8")))
      MediaAsset(id, "video/mp4",
        Mp4Container.mux(frames, (0 until n by 3).toSet))
    }
  }

  /** Per-frame container records for the q224 artifact: the REAL
    * [[Mp4Container]] walk, one row per located sample, payload sha'd
    * straight out of mdat. Narrow mapPartitions — container bytes never
    * shuffle. */
  def frameTable(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.flatMap { a =>
        Mp4Container.parse(a.bytes).toSeq.flatMap { case (_, _, frames) =>
          frames.map { f =>
            md.reset()
            md.update(a.bytes, f.offset.toInt, f.size.toInt)
            (a.asset_id, f.index, md.digest().map("%02x".format(_)).mkString,
              f.isKey, f.dts)
          }
        }
      }
    }.toDF("asset_id", "frame_index", "frame_sha", "is_key", "dts")
  }

  /** REAL video PAYLOAD decode for MJPEG-class containers (r14): the
    * [[Mp4Container]] walk locates every sample's byte range, and each
    * payload slice decodes through the lib-free [[JpegCodec]] — an MP4
    * whose samples are JPEG frames ('jpeg'/'mjpa' sample entries, the
    * Motion-JPEG profile cameras emit) now yields actual pixels, not a
    * stub. Samples that fail JPEG decode are skipped (a keyframe-only
    * analysis of a mixed-codec track still works); containers that are
    * not MP4 yield an empty seq. Narrow per-asset work — callers keep it
    * inside mapPartitions so container bytes never shuffle. Video codecs
    * with inter-frame prediction (H.26x/VP/AV1) remain the documented
    * stub seam. */
  private[graft] def decodeVideoFrameLumas(
      bytes: Array[Byte]): Seq[(Int, Int, Int, Array[Int])] =
    Mp4Container.parse(bytes) match {
      case Some((_, _, frames)) =>
        frames.flatMap { f =>
          val payload = java.util.Arrays.copyOfRange(
            bytes, f.offset.toInt, (f.offset + f.size).toInt)
          JpegCodec.decodeLuma(payload).map { case (w, h, luma) =>
            (f.index, w, h, luma)
          }
        }
      // animated GIF is the other self-contained video container with a
      // lib-free decode (r15): composited full-canvas frames, so the
      // SAME frame-hash machinery (q225/q227) is container-invariant
      case None => GifCodec.decodeFrameLumas(bytes)
    }

  /** Oracle-checked query: binary-column plumbing over real testdata —
    * text encoded to BINARY, hashed and measured as opaque bytes (the same
    * X0/X8 path artifact bodies take). */
  def defs: Map[String, QueryDef] = Map(

    // ---- MP4 frame-sample manifest (q224, r14): REAL container-walk
    //      frame extraction (the sampling pipeline's container half —
    //      codec decode stays the stub seam) over a synthetic per-doc
    //      MP4 corpus; the per-frame table persists as the oracle
    //      artifact (the q159/q164 pattern: byte-level parse can never
    //      be relational, everything AFTER the frame table is) and
    //      DuckDB replays the every-2nd sampling + per-asset manifest
    //      aggregation from those exact bytes. Mp4Spec gates the parse
    //      itself (muxer round-trips, layout variants, fuzz). ----
    "q224_frame_sample_manifest" -> QueryDef.sql(
      s"""WITH f AS (SELECT asset_id, frame_index, frame_sha, is_key, dts
         |  FROM read_parquet('${Similarity.annOracleRoot}/q224/frames/*.parquet')),
         |s AS (SELECT * FROM f WHERE frame_index % 2 = 0)
         |SELECT asset_id,
         |  count(*) AS n_sampled,
         |  CAST(sum(CASE WHEN is_key THEN 1 ELSE 0 END) AS BIGINT) AS n_key_sampled,
         |  min(frame_sha) AS min_sha,
         |  CAST(max(dts) AS BIGINT) AS last_dts
         |FROM s GROUP BY asset_id ORDER BY asset_id""") { (s, dir) =>
      val frames = Similarity.persistArtifact("q224", "frames",
        frameTable(syntheticMp4(Tables.documents(s, dir))))
      frames.filter(col("frame_index") % 2 === 0)
        .groupBy("asset_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum(when(col("is_key"), 1L).otherwise(0L)).as("n_key_sampled"),
          min(col("frame_sha")).as("min_sha"),
          max(col("dts")).cast("long").as("last_dts"))
        .orderBy("asset_id")
    },

    "q60_binary_columns" -> QueryDef.sql(
      """SELECT doc_id,
        |  sha256(text) AS body_sha256,
        |  octet_length(encode(text)) AS body_bytes,
        |  substring(sha256(text), 1, 2) AS blob_shard
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""") { (s, dir) =>
      Tables.documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text").cast("binary").as("body"))
        .select(col("doc_id"),
          sha2(col("body"), 256).as("body_sha256"),
          octet_length(col("body")).cast("long").as("body_bytes"),
          substring(sha2(col("body"), 256), 1, 2).as("blob_shard"))
        .orderBy("doc_id")
    }
  )
}
