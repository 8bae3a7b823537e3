package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaAsset
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private lazy val assets = Seq(
    MediaAsset(1L, "image/png", Array[Byte](1, 2, 3, 4, 5)),
    MediaAsset(2L, "image/jpeg", Array[Byte](9, 8, 7)),
    MediaAsset(3L, "video/mp4", Array.fill[Byte](20)(42))
  ).toDS()

  test("image feature extraction is deterministic and batch-shaped") {
    val f1 = Multimodal.imageFeatures(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.imageFeatures(assets).collect().sortBy(_.asset_id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq,
      "stub decode is deterministic")
    assert(f1.forall(_.feature.length == 8))
    assert(f1.forall(f => f.width >= 64 && f.height >= 64))
    assert(f1.map(_.n_bytes).toSeq == Seq(5L, 3L, 20L))
  }

  test("identical bytes produce identical features; different bytes differ") {
    val dup = Seq(
      MediaAsset(10L, "image/png", Array[Byte](1, 2, 3)),
      MediaAsset(11L, "image/png", Array[Byte](1, 2, 3)),
      MediaAsset(12L, "image/png", Array[Byte](3, 2, 1))).toDS()
    val f = Multimodal.imageFeatures(dup).collect().sortBy(_.asset_id)
    assert(f(0).feature.toSeq == f(1).feature.toSeq)
    assert(f(0).feature.toSeq != f(2).feature.toSeq)
  }

  test("PNM codec really decodes: P6 pixels, P5 grayscale, comments, junk rejection") {
    // hand-built 2x2 P6: red, green, blue, white — known channel means
    def p6(body: Array[Byte], header: String = "P6 2 2 255\n") =
      header.getBytes("US-ASCII") ++ body
    val px = Array[Byte](
      255.toByte, 0, 0,   0, 255.toByte, 0,
      0, 0, 255.toByte,   255.toByte, 255.toByte, 255.toByte)
    val Some((w, h, f)) = Multimodal.PnmCodec.decodeImage(p6(px))
    assert(w == 2 && h == 2)
    // each channel: (255 + 0 + 0 + 255)/4/255 = 0.5
    assert(f.take(3).forall(v => math.abs(v - 0.5f) < 1e-6), f.toSeq.toString)
    // quadrant lumas (rec601 integer): r=76/255, g=149/255, b=29/255, w=255/255
    val want = Seq(76f / 255, 149f / 255, 29f / 255, 255f / 255)
    f.slice(3, 7).zip(want).foreach { case (got, exp) =>
      assert(math.abs(got - exp) < 1e-3, s"quadrant: $got vs $exp")
    }
    assert(math.abs(f(7) - 0.5f) < 1e-6, "aspect 2/(2+2)")
    // header comments parse; P5 grayscale decodes with r=g=b
    val withComment = p6(px, "P6 # a comment\n2 2 # dims\n255\n")
    assert(Multimodal.PnmCodec.decodeImage(withComment).get._3.toSeq == f.toSeq)
    val p5 = "P5 2 1 255\n".getBytes("US-ASCII") ++ Array[Byte](0, 255.toByte)
    val Some((w5, h5, f5)) = Multimodal.PnmCodec.decodeImage(p5)
    assert(w5 == 2 && h5 == 1)
    assert(f5.take(3).forall(v => math.abs(v - 0.5f) < 1e-6))
    // junk and truncated rasters are None, not garbage
    assert(Multimodal.PnmCodec.decodeImage(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10)).isEmpty)
    assert(Multimodal.PnmCodec.decodeImage(p6(px.take(5))).isEmpty)
  }

  test("default codec routes PNM to the real decoder, other formats to the stub") {
    val ppm = ("P6 1 1 255\n".getBytes("US-ASCII") ++
      Array[Byte](255.toByte, 255.toByte, 255.toByte))
    val mixed = Seq(
      MediaAsset(20L, "image/x-portable-pixmap", ppm),
      MediaAsset(21L, "image/jpeg", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10))
    ).toDS()
    val f = Multimodal.imageFeatures(mixed).collect().sortBy(_.asset_id)
    assert(f(0).width == 1 && f(0).height == 1, "real decode: true dimensions")
    assert(f(0).feature.take(3).forall(v => math.abs(v - 1.0f) < 1e-6))
    assert(f(1).width >= 64, "stub fallback keeps the pipeline total")
    assert(f.length == 2)
  }

  /** Canonical little-endian 16-bit PCM WAV bytes, with an optional junk
    * chunk before `data` to exercise chunk walking. */
  private def wavBytes(sampleRate: Int, channels: Int, samples: Seq[Short],
      junkChunk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = (0 until 4).foreach(i => bos.write(((v >> (8 * i)) & 0xff).toInt))
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    val dataLen = samples.size * 2
    val junkLen = if (junkChunk) 8 + 4 else 0
    bos.write("RIFF".getBytes); w32(36 + junkLen + dataLen); bos.write("WAVE".getBytes)
    bos.write("fmt ".getBytes); w32(16); w16(1); w16(channels); w32(sampleRate)
    w32(sampleRate.toLong * channels * 2); w16(channels * 2); w16(16)
    if (junkChunk) { bos.write("LIST".getBytes); w32(4); bos.write("INFO".getBytes) }
    bos.write("data".getBytes); w32(dataLen)
    samples.foreach(s => w16(s & 0xffff))
    bos.toByteArray
  }

  test("WAV codec really decodes: square wave features are exact, junk chunks skipped") {
    // mono square wave at half amplitude: RMS = peak = 0.5 exactly,
    // every adjacent pair crosses zero (zcr = 1), all quarters equal
    val square = Seq.tabulate(64)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    val Some((sr, ch, n, f)) =
      Multimodal.WavCodec.decodeAudio(wavBytes(16000, 1, square, junkChunk = true))
    assert((sr, ch, n) == (16000, 1, 64L))
    assert(f(0) == 0.5f, s"rms ${f(0)}")
    assert(f(1) == 0.5f, s"peak ${f(1)}")
    assert(f.slice(2, 6).forall(_ == 0.5f), s"quarter rms ${f.toSeq}")
    assert(f(6) == 1.0f, s"zcr ${f(6)}")
    // stereo averaging: L=+16384, R=-16384 every frame → mono 0, RMS 0
    val stereo = Seq.tabulate(32)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    val Some((_, ch2, n2, f2)) = Multimodal.WavCodec.decodeAudio(wavBytes(8000, 2, stereo))
    assert(ch2 == 2 && n2 == 16L && f2(0) == 0.0f && f2(1) == 0.0f)
    // past the transcoders' 8-channel gate the canonical path still decodes
    val Some((_, ch9, n9, _)) = Multimodal.WavCodec.decodeAudio(wavBytes(8000, 9, stereo.take(27)))
    assert(ch9 == 9 && n9 == 3L)
    // junk rejection: non-RIFF bytes are not WAV
    assert(Multimodal.WavCodec.decodeAudio("not a wav at all".getBytes).isEmpty)
    // truncated data chunk: frame count clamps to the bytes present
    val full = wavBytes(8000, 1, square)
    val truncated = full.take(full.length - 32)
    val Some((_, _, nT, _)) = Multimodal.WavCodec.decodeAudio(truncated)
    assert(nT == 48L, s"truncation must clamp frames, got $nT")
  }

  test("WAV codec never throws on adversarial or random bytes") {
    val rnd = new scala.util.Random(11)
    // random garbage of assorted sizes
    (0 until 200).foreach { i =>
      val garbage = Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
      Multimodal.WavCodec.decodeAudio(garbage) // must not throw
    }
    // valid RIFF/WAVE prefix with a hostile chunk size that would
    // overflow an Int offset (0xFFFFFFF8) — must return None, not crash
    val hostile = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes); bos.write(Array[Byte](36, 0, 0, 0))
      bos.write("WAVE".getBytes)
      bos.write("JUNK".getBytes)
      bos.write(Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte))
      bos.write(new Array[Byte](32))
      bos.toByteArray
    }
    assert(Multimodal.WavCodec.decodeAudio(hostile).isEmpty)
    // hostile sampleRate 0xFFFFFFFF (unsigned) must be rejected, not
    // Int-wrapped into a negative rate/duration
    val badRate = {
      val square = Seq.tabulate(8)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
      val ok = wavBytes(16000, 1, square)
      // sampleRate lives at offset 12 (RIFF hdr) + 8 (fmt hdr) + 4
      (0 until 4).foreach(i => ok(24 + i) = 0xFF.toByte)
      ok
    }
    assert(Multimodal.WavCodec.decodeAudio(badRate).isEmpty,
      "unsigned-overflow sample rate must yield None")
    // zero-size chunk loop (size 0 repeated) must terminate, not spin
    val zeroLoop = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes); bos.write(Array[Byte](36, 0, 0, 0))
      bos.write("WAVE".getBytes)
      bos.write("JUNK".getBytes); bos.write(new Array[Byte](4)) // size 0
      bos.write(new Array[Byte](24))
      bos.toByteArray
    }
    assert(Multimodal.WavCodec.decodeAudio(zeroLoop).isEmpty)
    // PNM shares the never-throw contract: random garbage and a header
    // whose dimension overflows Int (20 digits) must both yield None
    (0 until 200).foreach { i =>
      val garbage = Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
      Multimodal.PnmCodec.decodeImage(garbage)
    }
    assert(Multimodal.PnmCodec.decodeImage(
      "P5 99999999999999999999 2 255 ....".getBytes).isEmpty)
  }

  test("audio feature extraction routes WAV to the real decoder, rest to the stub") {
    val square = Seq.tabulate(64)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    val audio = Seq(
      MediaAsset(10L, "audio/wav", wavBytes(16000, 1, square)),
      MediaAsset(11L, "audio/mpeg", Array[Byte](0x49, 0x44, 0x33, 1, 2, 3))
    ).toDS()
    val got = Multimodal.audioFeatures(audio).collect().map(a => a.asset_id -> a).toMap
    assert(got(10L).sample_rate == 16000 && got(10L).n_frames == 64L &&
      got(10L).duration_sec == 64.0 / 16000 && got(10L).feature(0) == 0.5f,
      s"real WAV decode wrong: ${got(10L)}")
    // the stub is deterministic per content
    val again = Multimodal.audioFeatures(audio).collect().map(a => a.asset_id -> a).toMap
    assert(got(11L).feature.toSeq == again(11L).feature.toSeq)
    assert(got(11L).feature.toSeq != got(10L).feature.toSeq)
  }

  test("frame sampling emits every k-th frame with content-hash addresses") {
    val frames = Multimodal.sampleFrames(assets, everyK = 2).collect()
    assert(frames.forall(_.frame_index % 2 == 0))
    assert(frames.map(_.frame_sha).distinct.length == frames.length,
      "frame addresses are unique per (content, index)")
    val v3 = frames.filter(_.asset_id == 3L)
    assert(v3.nonEmpty)
  }

  // ---------------------------------------------------------------------
  // PNG codec
  // ---------------------------------------------------------------------

  /** Hand-build a PNG: raw = filter-byte-prefixed scanlines (already
    * filtered by the CALLER), wrapped in a stored-block zlib stream and
    * spec chunks with real CRCs — so tests control every byte the
    * decoder sees. */
  private def buildPng(w: Int, h: Int, colorType: Int, raw: Array[Byte],
      plte: Array[Byte] = null, bitDepth: Int = 8,
      interlace: Int = 0): Array[Byte] = {
    val z = new java.io.ByteArrayOutputStream()
    z.write(0x78); z.write(0x01)
    z.write(1) // BFINAL, stored
    z.write(raw.length & 0xff); z.write((raw.length >> 8) & 0xff)
    z.write(~raw.length & 0xff); z.write((~raw.length >> 8) & 0xff)
    z.write(raw, 0, raw.length)
    val adler = new java.util.zip.Adler32(); adler.update(raw)
    val a = adler.getValue
    z.write(((a >> 24) & 0xff).toInt); z.write(((a >> 16) & 0xff).toInt)
    z.write(((a >> 8) & 0xff).toInt); z.write((a & 0xff).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
    def chunk(t: String, d: Array[Byte]): Unit = {
      def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      out.write(be32(d.length.toLong), 0, 4)
      out.write(t.getBytes("US-ASCII"), 0, 4)
      out.write(d, 0, d.length)
      val crc = new java.util.zip.CRC32()
      crc.update(t.getBytes("US-ASCII")); crc.update(d)
      out.write(be32(crc.getValue), 0, 4)
    }
    chunk("IHDR", Array(
      ((w >> 24) & 0xff).toByte, ((w >> 16) & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >> 24) & 0xff).toByte, ((h >> 16) & 0xff).toByte,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      bitDepth.toByte, colorType.toByte, 0, 0, interlace.toByte))
    if (plte != null) chunk("PLTE", plte)
    chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("PNG codec: encodeGray round-trips and matches the equivalent P5 exactly") {
    val px = Array.tabulate(18 * 16)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.PngCodec.encodeGray(18, 16, px)
    val Some((w, h, luma)) = Multimodal.PngCodec.decodeLuma(png)
    assert(w == 18 && h == 16)
    assert(luma.toSeq == px.map(_ & 0xff).toSeq, "pixel-exact round trip")
    // the SAME pixels as P5 must produce byte-identical features
    val p5 = "P5 18 16 255\n".getBytes("US-ASCII") ++ px
    assert(Multimodal.PngCodec.decodeImage(png).get._3.toSeq
      == Multimodal.PnmCodec.decodeImage(p5).get._3.toSeq)
  }

  test("PNG codec: every filter type unfilters exactly (hand-filtered RGB rows)") {
    // 2x2 RGB, pixels chosen so each filter's reconstruction is checkable:
    // row0: (10,20,30) (40,60,80); row1: (15,25,35) (70,90,110)
    val want = Seq(10, 20, 30, 40, 60, 80, 15, 25, 35, 70, 90, 110)
    def b(i: Int) = i.toByte
    // filter 0 (None) everywhere
    val f0 = Array(b(0), b(10), b(20), b(30), b(40), b(60), b(80),
      b(0), b(15), b(25), b(35), b(70), b(90), b(110))
    // row0 Sub (x - left), row1 Up (x - above)
    val f12 = Array(b(1), b(10), b(20), b(30), b(30), b(40), b(50),
      b(2), b(5), b(5), b(5), b(30), b(30), b(30))
    // row0 None, row1 Average: x - floor((left + above)/2); first pixel left=0
    val f3 = Array(b(0), b(10), b(20), b(30), b(40), b(60), b(80),
      b(3), b(10), b(15), b(20), b(70 - (15 + 40) / 2), b(90 - (25 + 60) / 2),
      b(110 - (35 + 80) / 2))
    // row0 None, row1 Paeth: predictor of (left, above, up-left);
    // first pixel: paeth(0, above, 0) = above
    val f4 = Array(b(0), b(10), b(20), b(30), b(40), b(60), b(80),
      b(4), b(15 - 10), b(25 - 20), b(35 - 30),
      // for pixel 2 of row1: a=15/25/35 (left), b=40/60/80 (above), c=10/20/30
      // p = a+b-c = 45/65/85 → |p-a|=30, |p-b|=5, |p-c|=35 → predictor = above
      b(70 - 40), b(90 - 60), b(110 - 80))
    Seq("none" -> f0, "sub+up" -> f12, "avg" -> f3, "paeth" -> f4).foreach {
      case (name, raw) =>
        val Some((w, h, ch, px)) =
          Multimodal.PngCodec.decodePixels(buildPng(2, 2, 2, raw))
        assert(w == 2 && h == 2 && ch == 3, name)
        assert(px.map(_ & 0xff).toSeq == want, s"filter set '$name' mis-decodes")
    }
  }

  test("PNG codec: palette resolves, alpha channels are ignored") {
    // ct3: palette [red, white], indices row-major 0,1,1,0
    val pal = buildPng(2, 2, 3,
      Array[Byte](0, 0, 1, 0, 1, 0),
      plte = Array(255.toByte, 0, 0, 255.toByte, 255.toByte, 255.toByte))
    val Some((_, _, ch3, px3)) = Multimodal.PngCodec.decodePixels(pal)
    assert(ch3 == 3)
    assert(px3.map(_ & 0xff).toSeq ==
      Seq(255, 0, 0, 255, 255, 255, 255, 255, 255, 255, 0, 0))
    // ct6 RGBA: alpha dropped, color kept
    val rgba = buildPng(1, 1, 6, Array[Byte](0, 100, (150 & 0xff).toByte, 200.toByte, 7))
    assert(Multimodal.PngCodec.decodePixels(rgba).get._4.map(_ & 0xff).toSeq
      == Seq(100, 150, 200))
    // ct4 gray+alpha: gray kept
    val ga = buildPng(1, 1, 4, Array[Byte](0, 123, 45))
    val Some((_, _, ch1, px1)) = Multimodal.PngCodec.decodePixels(ga)
    assert(ch1 == 1 && (px1(0) & 0xff) == 123)
  }

  test("PNG codec: junk, truncation, corruption, and unsupported shapes are None, never a crash") {
    val good = Multimodal.PngCodec.encodeGray(4, 4, Array.fill[Byte](16)(9))
    assert(Multimodal.PngCodec.decodeImage(good).isDefined)
    // truncations at every prefix length must not throw
    (0 until good.length by 3).foreach { n =>
      assert(Multimodal.PngCodec.decodeImage(good.take(n)).isEmpty, s"prefix $n")
    }
    // flip one IDAT byte → CRC mismatch → None
    val corrupt = good.clone(); corrupt(good.length - 15) = (corrupt(good.length - 15) ^ 0x1).toByte
    assert(Multimodal.PngCodec.decodeImage(corrupt).isEmpty, "corruption must fail CRC")
    // 16-bit depth and Adam7 DECODE since r16 (PngSpec gates them; the
    // 6-byte rasters here are SHORT for both layouts — 2×2 gray-16 needs
    // 10 bytes, 2×2 Adam7-8 needs 7 — so they are None as short IDAT);
    // sub-8-bit depths stay rejected, as do bad filters / short rasters
    val raw = Array[Byte](0, 1, 0, 2)
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(2, 2, 0, Array[Byte](0, 1, 2, 0, 3, 4), bitDepth = 16)).isEmpty)
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(2, 2, 0, Array[Byte](0, 1, 2, 0, 3, 4), interlace = 1)).isEmpty)
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(2, 2, 0, Array[Byte](0, 1, 2, 0, 3, 4), bitDepth = 4)).isEmpty)
    // correctly-sized 16-bit gray: decodes to the samples' HIGH bytes
    assert(Multimodal.PngCodec.decodePixels(buildPng(2, 2, 0,
      Array[Byte](0, 10, 99, 20, 98.toByte, 0, 30, 97, 40, 96.toByte),
      bitDepth = 16)).get._4.map(_ & 0xff).toSeq == Seq(10, 20, 30, 40))
    // correctly-sized 2×2 Adam7 gray-8: pass 1 = (0,0), pass 6 = (1,0),
    // pass 7 = row 1 — scatter order differs from raster order
    assert(Multimodal.PngCodec.decodePixels(buildPng(2, 2, 0,
      Array[Byte](0, 11, 0, 22, 0, 33, 44), interlace = 1))
      .get._4.map(_ & 0xff).toSeq == Seq(11, 22, 33, 44))
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(2, 1, 0, Array[Byte](5, 1, 2))).isEmpty, "filter type 5")
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(2, 2, 0, raw)).isEmpty, "short raster")
    // palette image without PLTE → None
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(1, 1, 3, Array[Byte](0, 0))).isEmpty)
    // crafted-IHDR overflow: w=2^30, h=2^32-1 (unsigned), RGBA → stride*h
    // wraps Long past the MaxRaw cap; must be None, never a negative-size
    // allocation (the dimension bound rejects it before any multiply)
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(1 << 30, -1, 6, Array[Byte](0, 1, 2, 3, 4))).isEmpty,
      "overflow IHDR")
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(-1, 1 << 30, 2, Array[Byte](0, 1, 2, 3))).isEmpty,
      "overflow IHDR (w side)")
    // huge-but-in-bound dims: caught by the division-form MaxRaw cap
    assert(Multimodal.PngCodec.decodePixels(
      buildPng(1 << 20, 1 << 20, 0, Array[Byte](0, 1))).isEmpty,
      "MaxRaw cap on non-wrapping dims")
    // random bytes with the right signature prefix → None
    val rng = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val junk = new Array[Byte](60); rng.nextBytes(junk)
      System.arraycopy(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte), 0, junk, 0, 8)
      assert(Multimodal.PngCodec.decodeImage(junk).isEmpty)
    }
  }

  test("default codec routes PNG to the real decoder, not the stub") {
    val px = Array.tabulate(8 * 8)(i => (i * 4).toByte)
    val png = Multimodal.PngCodec.encodeGray(8, 8, px)
    val f = Multimodal.imageFeatures(
      Seq(MediaAsset(30L, "image/png", png)).toDS()).collect().head
    assert(f.width == 8 && f.height == 8,
      s"stub would report >= 64x64 fake dims: $f")
    assert(f.feature.toSeq == Multimodal.PngCodec.decodeImage(png).get._3.toSeq)
  }

  // -----------------------------------------------------------------
  // JPEG codec — reference encoder/decoder: the JDK's own ImageIO
  // (java.desktop, no external library; test scope only). The codec
  // under test never touches ImageIO.
  // -----------------------------------------------------------------

  /** Baseline JPEG bytes via ImageIO at an explicit quality. */
  private def jpegBytes(img: java.awt.image.BufferedImage,
      quality: Float, progressive: Boolean = false): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    if (progressive)
      params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  private def rgbImage(w: Int, h: Int)(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
    img
  }

  private def grayImage(w: Int, h: Int)(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = f(x, y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  test("JPEG codec: decodes ImageIO baseline streams pixel-close to ImageIO's own decode") {
    // both decoders consume the SAME bitstream; differences are IDCT
    // rounding only, which the JPEG conformance spec bounds at a few
    // grey levels. Odd dimensions exercise MCU padding; low quality
    // exercises 4:2:0 chroma upsampling; gray exercises 1-component.
    val cases: Seq[(java.awt.image.BufferedImage, Float, String)] = Seq(
      (rgbImage(17, 13)((x, y) => ((x * 15) << 16) | ((y * 19) << 8) | ((x + y) * 7)), 0.95f, "rgb 17x13 q95"),
      (rgbImage(64, 48)((x, y) => ((x * 4) << 16) | ((y * 5) << 8) | (x * 2 + y)), 0.5f, "rgb 64x48 q50"),
      (rgbImage(32, 32)((x, y) => if ((x / 8 + y / 8) % 2 == 0) 0xC08040 else 0x2060A0), 0.75f, "rgb blocks q75"),
      (grayImage(16, 12)((x, y) => x * 16 + y), 0.9f, "gray 16x12 q90"),
      (grayImage(33, 7)((x, y) => 255 - x * 7 + y * 3), 0.6f, "gray 33x7 q60"))
    cases.foreach { case (img, q, label) =>
      val bytes = jpegBytes(img, q)
      val mine = Multimodal.JpegCodec.decodePixels(bytes)
      assert(mine.isDefined, s"$label: decoder returned None")
      val (w, h, ch, px) = mine.get
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(w == ref.getWidth && h == ref.getHeight, s"$label dims")
      // raw raster samples, NOT getRGB — getRGB gamma-converts gray
      // through the color model and would mis-report a correct decode
      val raster = ref.getRaster
      val nb = raster.getNumBands
      var maxDiff = 0
      var sumDiff = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rr = raster.getSample(x, y, 0)
        val rg = if (nb >= 3) raster.getSample(x, y, 1) else rr
        val rb = if (nb >= 3) raster.getSample(x, y, 2) else rr
        val off = (y * w + x) * ch
        val (mr, mg, mb) =
          if (ch == 3) (px(off) & 0xff, px(off + 1) & 0xff, px(off + 2) & 0xff)
          else { val v = px(off) & 0xff; (v, v, v) }
        val d = math.max(math.abs(mr - rr),
          math.max(math.abs(mg - rg), math.abs(mb - rb)))
        maxDiff = math.max(maxDiff, d)
        sumDiff += d
      }
      // measured: ≤ 2 across all cases (fancy upsampling matches the
      // IJG filters; residual is IDCT rounding) — bound at 3 for slack
      val mean = sumDiff.toDouble / (w * h)
      assert(maxDiff <= 3, s"$label: max pixel diff $maxDiff vs ImageIO")
      assert(mean <= 0.5, s"$label: mean pixel diff $mean vs ImageIO")
    }
  }

  test("JPEG codec: decodes ImageIO progressive streams pixel-close to ImageIO's own decode") {
    // same parity contract as the baseline case: both decoders consume
    // the SAME SOF2 multi-scan bitstream (ImageIO's default progression:
    // DC first + refinements, spectral-selection AC scans per component
    // with successive approximation); differences are IDCT rounding.
    val cases: Seq[(java.awt.image.BufferedImage, Float, String)] = Seq(
      (rgbImage(17, 13)((x, y) => ((x * 15) << 16) | ((y * 19) << 8) | ((x + y) * 7)), 0.95f, "prog rgb 17x13 q95"),
      (rgbImage(64, 48)((x, y) => ((x * 4) << 16) | ((y * 5) << 8) | (x * 2 + y)), 0.5f, "prog rgb 64x48 q50"),
      (rgbImage(32, 32)((x, y) => if ((x / 8 + y / 8) % 2 == 0) 0xC08040 else 0x2060A0), 0.75f, "prog rgb blocks q75"),
      (grayImage(16, 12)((x, y) => x * 16 + y), 0.9f, "prog gray 16x12 q90"),
      (grayImage(33, 7)((x, y) => 255 - x * 7 + y * 3), 0.6f, "prog gray 33x7 q60"))
    cases.foreach { case (img, q, label) =>
      val bytes = jpegBytes(img, q, progressive = true)
      val mine = Multimodal.JpegCodec.decodePixels(bytes)
      assert(mine.isDefined, s"$label: decoder returned None")
      val (w, h, ch, px) = mine.get
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(w == ref.getWidth && h == ref.getHeight, s"$label dims")
      val raster = ref.getRaster
      val nb = raster.getNumBands
      var maxDiff = 0
      var sumDiff = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rr = raster.getSample(x, y, 0)
        val rg = if (nb >= 3) raster.getSample(x, y, 1) else rr
        val rb = if (nb >= 3) raster.getSample(x, y, 2) else rr
        val off = (y * w + x) * ch
        val (mr, mg, mb) =
          if (ch == 3) (px(off) & 0xff, px(off + 1) & 0xff, px(off + 2) & 0xff)
          else { val v = px(off) & 0xff; (v, v, v) }
        val d = math.max(math.abs(mr - rr),
          math.max(math.abs(mg - rg), math.abs(mb - rb)))
        maxDiff = math.max(maxDiff, d)
        sumDiff += d
      }
      val mean = sumDiff.toDouble / (w * h)
      assert(maxDiff <= 3, s"$label: max pixel diff $maxDiff vs ImageIO")
      assert(mean <= 0.5, s"$label: mean pixel diff $mean vs ImageIO")
    }
    // container-invariance: the SAME pixels through baseline and
    // progressive containers must land at Hamming distance ~0 in dHash
    // (the perceptual-dedup property the decoder exists to serve)
    val img = rgbImage(40, 24)((x, y) => ((x * 6) << 16) | ((y * 9) << 8) | (x + y))
    val base = Multimodal.JpegCodec.decodeLuma(jpegBytes(img, 0.9f)).get
    val prog = Multimodal.JpegCodec.decodeLuma(jpegBytes(img, 0.9f, progressive = true)).get
    val hb = graft.operators.ImageHash.dhash(base._1, base._2, base._3)
    val hp = graft.operators.ImageHash.dhash(prog._1, prog._2, prog._3)
    assert(java.lang.Long.bitCount(hb ^ hp) <= 2,
      s"baseline-vs-progressive dHash distance ${java.lang.Long.bitCount(hb ^ hp)}")
  }

  test("JPEG codec: junk, truncation, corruption, and unsupported frames are None, never a crash") {
    val good = jpegBytes(rgbImage(24, 16)((x, y) => (x * 10 << 16) | (y * 14 << 8) | 60), 0.8f)
    assert(Multimodal.JpegCodec.decodePixels(good).isDefined)
    // truncation at every prefix: None, never a throw
    (0 until good.length by 7).foreach { p =>
      assert(Multimodal.JpegCodec.decodePixels(good.take(p)).isEmpty, s"prefix $p")
    }
    // progressive streams decode for real since r13 (parity-tested in
    // their own case below); truncation/fuzz coverage for them follows
    val prog = jpegBytes(rgbImage(24, 16)((x, y) => x * 99 << 8 | y), 0.8f,
      progressive = true)
    assert(Multimodal.JpegCodec.decodePixels(prog).isDefined,
      "progressive must decode since r13")
    (0 until prog.length by 7).foreach { p =>
      assert(Multimodal.JpegCodec.decodePixels(prog.take(p)).isEmpty,
        s"progressive prefix $p")
    }
    (0 until 40).foreach { i =>
      val rng2 = new scala.util.Random(100 + i)
      val mutated = prog.clone()
      val j = prog.length / 2 + rng2.nextInt(prog.length / 2)
      mutated(j) = (mutated(j) ^ (1 << rng2.nextInt(8))).toByte
      Multimodal.JpegCodec.decodePixels(mutated) // crash = test failure
    }
    // crafted SOF dims: patch height/width to 0xFFFF → pixel cap / scan
    // exhaustion must reject without allocation blowups or throws
    val sofAt = {
      var p = 2
      var at = -1
      while (at < 0 && p + 4 < good.length) {
        if ((good(p) & 0xff) == 0xff && (good(p + 1) & 0xff) == 0xc0) at = p
        else p += 1
      }
      at
    }
    assert(sofAt > 0)
    val crafted = good.clone()
    crafted(sofAt + 5) = 0xff.toByte; crafted(sofAt + 6) = 0xff.toByte // h
    crafted(sofAt + 7) = 0xff.toByte; crafted(sofAt + 8) = 0xff.toByte // w
    assert(Multimodal.JpegCodec.decodePixels(crafted).isEmpty, "2^32-ish dims")
    // scan-data bit flips: may decode to different pixels, must never throw
    val rng = new scala.util.Random(11)
    (0 until 40).foreach { _ =>
      val mutated = good.clone()
      val i = good.length / 2 + rng.nextInt(good.length / 2)
      mutated(i) = (mutated(i) ^ (1 << rng.nextInt(8))).toByte
      Multimodal.JpegCodec.decodePixels(mutated) // crash = test failure
    }
    // random bytes behind an SOI prefix
    (0 until 50).foreach { _ =>
      val junk = new Array[Byte](80); rng.nextBytes(junk)
      junk(0) = 0xff.toByte; junk(1) = 0xd8.toByte
      assert(Multimodal.JpegCodec.decodeImage(junk).isEmpty)
    }
  }

  test("default codec routes baseline JPEG to the real decoder, not the stub") {
    val bytes = jpegBytes(grayImage(20, 10)((x, y) => x * 12), 0.9f)
    val f = Multimodal.imageFeatures(
      Seq(MediaAsset(40L, "image/jpeg", bytes)).toDS()).collect().head
    assert(f.width == 20 && f.height == 10,
      s"stub would report >= 64x64 fake dims: $f")
    assert(f.feature.toSeq ==
      Multimodal.JpegCodec.decodeImage(bytes).get._3.toSeq)
    // the MP3/video seam is unchanged: non-media bytes still land on the
    // deterministic stub rather than None
    val stubbed = Multimodal.imageFeatures(
      Seq(MediaAsset(41L, "video/mp4", Array[Byte](1, 2, 3, 4))).toDS())
      .collect().head
    assert(stubbed.width >= 64, "stub seam must keep serving non-decodable formats")
  }

  /** Every encoder and fixture wrapper on fixed inputs, plus the
    * documents-table WAV corpus: the byte pins below and the cross-codec
    * fuzz corpus. */
  private lazy val fixtures: Seq[(String, Array[Byte])] = {
    val docs = Seq((7L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val synthetic = graft.operators.ImageHash.syntheticWav(docs)
      .collect().filter(_.asset_id == 14L).head.bytes
    EncoderFixtures.all :+ ("synthetic_wav" -> synthetic)
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  /** SHA-256 of each fixture, taken before the codecs moved onto the
    * shared byte layer: a refactor of the readers and writers must not
    * move one output byte. */
  private val pinnedDigests: Map[String, String] = Map(
    "pnm_p5" -> "e91e752b6ed632135da0c4d68b2f2e9c2031bd8fb6810aa80cb102db9fd54928",
    "pnm_p6" -> "98d1f8e51354de9616ead8cd2ebdd069a69d409080614aa78ce35b24badc99f6",
    "png_p0" -> "9e2d982ae44bf9ac35292117bd94cf33de15acb8b438c559196719a7016ecf84",
    "png_p1" -> "1417e1a61274cdbda6e422e96e96934848424038d4e0b96fcae46fa0c692eb27",
    "png_p2" -> "8677db79dee6f8ec1be933c21a57af2d19de7193877910e88bfa34a175da43ca",
    "png_p3" -> "aeec94efa3b180953d2d2eb097fc8693aef5bd31736f888911079e493d35a2dd",
    "gif_p0" -> "17dd52970641ee0132ca6cb23bbf8a5195e4dcfe9f7db690c1af54dd2651e917",
    "gif_p1" -> "3c661ab0b1a584718049fea7a84a3949aa6804bc456644eb06ff8a325e42ef9a",
    "gif_anim_p0" -> "59b9ab94d9acb4283545002a771542c35b4ae042457ee9034a866ddd55c281cb",
    "gif_anim_p1" -> "0c2c358262c607acb59492edcfe0d590a711652eda5f5a4fb84054d133466c20",
    "bmp_p0" -> "a3069c42f98ea6cd3ad51c81ebcc27adec930ec7bbc629f092bedeeb68ef6a60",
    "bmp_p1" -> "3cf35bd1dbfb86bce2a096c2500331bcd975cdf16a244dad0f2c68173a3dd204",
    "tiff_p0" -> "bac40d67dcda3de49a274c8b1af1f50f7ece7dc88bb68c1106c63f3f8d0fd0ec",
    "tiff_p1" -> "41ce666b782d1dd038629816b78b4d80becb5bc7a49550e7cf4d992a377379c5",
    "tga_p0" -> "6077e5adeb87759f19680b4162e1c58d846428ba0313828a14df7aac09f7dd03",
    "tga_p1" -> "c57d12596d6a114c9fa6fdd0aa62cf0b57fbb81540328ce11f37754c42801687",
    "ico_p0" -> "57b97b40fe9853d95573b362d5753fb936cb2c4884ba73828ec92700c6c754ab",
    "ico_p1" -> "1a0a1823218560caacad4f43b057c4b3a474fee44eef9410ad8f54e2f0980cdd",
    "jpeg_p0" -> "3be83abfca7f42b742da6da143dc20c5eb12e9e901c36f72d858898e5fd01b00",
    "jpeg_p1" -> "fb331b8ce6c7fa3eda8a46615c0df6217bde29689f817ed04b2de7af64bb0501",
    "wav_mono" -> "b014932c5cf48784e783ba5a78d09c1305ccb8f8f2f8d4231afc2cc5a00dcefe",
    "wav_stereo" -> "ae4abd86ddf3fc5e743df6a6e7297aacb21697c4af4b9fa28ebbfd5a5d976bda",
    "flac_mono" -> "8e2deabc08ad6c2015b1ab5788cbd8cadda522650407af9449a6cf4e5721d314",
    "flac_stereo" -> "49d2bed86f8a3588b899df4c42fb796724b21690b940aeb7591977a035e64136",
    "flac_mid_side" -> "09bf209376795c3b3302475f9c3a4bd44db9cdf51174cb5eae6ed0cdaa0dce17",
    "flac_to_wav" -> "b014932c5cf48784e783ba5a78d09c1305ccb8f8f2f8d4231afc2cc5a00dcefe",
    "g711_ulaw" -> "8fecef26de399340ab7e8188093dffe2a3fdc7c0eb7b25bd6f3e77a2b4a16eaa",
    "g711_alaw" -> "f1d312d5d80577f05ab90d025150951ad2136f653cd590dc6f8e114eb46460ad",
    "g711_to_wav" -> "e6e618b22f3decbd04fd2a3739e2e2ed6ca1ac1bcaecb53343569faa654dc6e3",
    "adpcm_mono" -> "1c9e95506e11845af98663d3be8c799d04fbb859c8a6cb16090ae4b56d91131d",
    "adpcm_stereo" -> "03aa4d28a3a8ee18035b40b8262c1c138ba81c5d74c8c0bde45106faa8992bd8",
    "adpcm_to_wav" -> "55170af16411d15c0c15ac33f919b3dd6f18ea3a27a436d373bfede46f09570f",
    "pcm8" -> "2f14a2e729959557b4abcffbb61d2f2deb56424fca4a6e19d32f52da7f97cb13",
    "pcm24" -> "4e54a14a3e7dca66f213a8dc42a2d5365c7adf89aad1da587ba9b50e454b78e9",
    "pcm_float" -> "6f7a9c178566b2dc459e24a7261ea3b7e2c9422c6fe7a6ef11ddcfffccc86cb3",
    "pcm24_to_wav" -> "e7f0fc0d9f2b284061d05c106fc94f1e93e9c3ce096f165742986c462dbccc87",
    "aiff_p0" -> "65b5fbea9bb4a4c037368f4d1f2076e6b3ac46a5a331e324070d4d8d4d43e80b",
    "aiff_p1" -> "3626ba1caacfc441cfea3bfc3689f74a2ad7c67101d16e2ea6abf87274808645",
    "aiff_to_wav" -> "fdeee568fd9c1bb8c901cd7c108401bf261e9c8d27f6a878706ce8566222f2a7",
    "au" -> "e47129a48fa8114f2e4a3af66be210e38fa174027960b855288dc669e7505409",
    "au_to_wav" -> "f2828871e573d61e5771c3ddc681a23d1537130414105dd223f8c38132b14325",
    "mp4_mjpeg" -> "eb60407f83fb6a451541b5b48e52ff9b12be7296f184591e98383959137bbb20",
    "mp4_co64" -> "5ae8556d4b94f4cc8e10ad368239f8a4a80d0cfc3d55f87b2d54ee8c9ba43670",
    "synthetic_wav" -> "13cc1a1a2e7daca69fc5287700f9e6e75e478377859ff9f800b24652bcf34584")

  test("encoders and fixture wrappers emit pinned bytes") {
    val got = fixtures.map { case (name, b) => name -> sha256(b) }.toMap
    assert(got.keySet == pinnedDigests.keySet)
    pinnedDigests.foreach { case (name, want) =>
      assert(got(name) == want, s"$name bytes moved")
    }
  }

  test("cross-codec fuzz: truncated, bit-flipped fixtures never throw through the routers") {
    val mutation = for {
      cut <- Gen.oneOf(Gen.const(1.0), Gen.choose(0.0, 1.0))
      flips <- Gen.listOfN(4, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0, 7)))
    } yield (cut, flips)
    fixtures.zipWithIndex.foreach { case ((name, good), k) =>
      (0 until 200).foreach { i =>
        val (cut, flips) = mutation.apply(Gen.Parameters.default, Seed(1000L * k + i)).get
        val b = java.util.Arrays.copyOf(good, (good.length * cut).toInt)
        if (b.nonEmpty) flips.foreach { case (at, bit) =>
          val p = math.min(b.length - 1, (b.length * at).toInt)
          b(p) = (b(p) ^ (1 << bit)).toByte
        }
        withClue(s"$name case $i: ") {
          Multimodal.DefaultCodec.decodeImage(b)
          Multimodal.decodeLumaAny(b)
          Multimodal.DefaultAudioCodec.decodeAudio(b)
          Multimodal.DefaultAudioCodec.decodeEnergyWindows(b)
          Multimodal.Mp4Container.parse(b)
          Multimodal.decodeVideoFrameLumas(b)
        }
      }
    }
  }
}

/** Fixed-input outputs of every media encoder and container wrapper. */
private object EncoderFixtures {
  import Multimodal._

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  /** 13×11 gray: flat runs in the top rows, noise below — both the run
    * and the literal packets of the RLE/PackBits encoders. */
  private val (gw, gh) = (13, 11)
  private val gray: Array[Byte] = {
    val noise = lcg(5).map(v => (v >>> 40).toByte)
    Array.tabulate(gw * gh)(i => if (i < 4 * gw) ((i / 5) * 37).toByte else noise.next())
  }
  private val pcm: Array[Short] = {
    val noise = lcg(9).map(v => (v >>> 54).toInt)
    Array.tabulate(4500)(i =>
      (6000 * math.sin(i / 19.0) + noise.next()).toShort)
  }
  private val stereo: Array[Short] = pcm.take(1200).flatMap(v => Array(v, (-v / 2).toShort))
  private val lattice: Array[Short] = pcm.take(600).map(v => ((v >> 8) << 8).toShort)
  private val codes: Array[Byte] = Array.tabulate(512)(i => (i * 7 + i / 3).toByte)
  private val frames: Seq[GifCodec.FramePlan] = Seq(
    GifCodec.FramePlan(0, 0, 16, 12, Array.tabulate(192)(i => (i * 3).toByte)),
    GifCodec.FramePlan(3, 2, 8, 6, Array.tabulate(48)(i => (i % 5 * 60).toByte),
      transparent = 0, disposal = 2),
    GifCodec.FramePlan(5, 4, 6, 5, Array.fill[Byte](30)(90), disposal = 3))

  val all: Seq[(String, Array[Byte])] = {
    val jpeg0 = JpegCodec.encodeGray(gw, gh, gray, 0)
    val jpeg1 = JpegCodec.encodeGray(gw, gh, gray, 1)
    val flac = FlacCodec.encode16(16000, 1, pcm)
    val g711 = G711Codec.wrap(7, 8000, 1, codes)
    val adpcm = AdpcmCodec.wrap(8000, 1, 36, codes.take(36 * 14))
    val pcm24 = PcmDepthCodec.encode24(16000, 2, stereo)
    val aiff1 = AiffCodec.encode16(22050, 2, stereo, 1)
    val au = AuCodec.encode16(8000, 1, pcm)
    Seq(
      "pnm_p5" -> (s"P5 $gw $gh 255\n".getBytes("US-ASCII") ++ gray),
      "pnm_p6" -> ("P6 # rgb\n4 3 255\n".getBytes("US-ASCII") ++ gray.take(36)),
      "png_p0" -> PngCodec.encodeGray(gw, gh, gray, 0),
      "png_p1" -> PngCodec.encodeGray(gw, gh, gray, 1),
      "png_p2" -> PngCodec.encodeGray(gw, gh, gray, 2),
      "png_p3" -> PngCodec.encodeGray(gw, gh, gray, 3),
      "gif_p0" -> GifCodec.encodeGray(gw, gh, gray, 0),
      "gif_p1" -> GifCodec.encodeGray(gw, gh, gray, 1),
      "gif_anim_p0" -> GifCodec.encode(16, 12, frames, 0),
      "gif_anim_p1" -> GifCodec.encode(16, 12, frames, 1),
      "bmp_p0" -> BmpCodec.encodeGray(gw, gh, gray, 0),
      "bmp_p1" -> BmpCodec.encodeGray(gw, gh, gray, 1),
      "tiff_p0" -> TiffCodec.encodeGray(gw, gh, gray, 0),
      "tiff_p1" -> TiffCodec.encodeGray(gw, gh, gray, 1),
      "tga_p0" -> TgaCodec.encodeGray(gw, gh, gray, 0),
      "tga_p1" -> TgaCodec.encodeGray(gw, gh, gray, 1),
      "ico_p0" -> IcoCodec.encodeGray(gw, gh, gray, 0),
      "ico_p1" -> IcoCodec.encodeGray(gw, gh, gray, 1),
      "jpeg_p0" -> jpeg0,
      "jpeg_p1" -> jpeg1,
      "wav_mono" -> pcmWavBytes(16000, 1, pcm),
      "wav_stereo" -> pcmWavBytes(44100, 2, stereo),
      "flac_mono" -> flac,
      "flac_stereo" -> FlacCodec.encode16(44100, 2, stereo),
      "flac_mid_side" -> FlacCodec.encode16Stereo(44100,
        pcm.take(900).map(_.toInt), pcm.slice(900, 1800).map(_.toInt), 10),
      "flac_to_wav" -> FlacCodec.toWav(flac).get,
      "g711_ulaw" -> g711,
      "g711_alaw" -> G711Codec.wrap(6, 16000, 2, codes),
      "g711_to_wav" -> G711Codec.toWav(g711).get,
      "adpcm_mono" -> adpcm,
      "adpcm_stereo" -> AdpcmCodec.wrap(8000, 2, 24, codes.take(24 * 20)),
      "adpcm_to_wav" -> AdpcmCodec.toWav(adpcm).get,
      "pcm8" -> PcmDepthCodec.encode8(8000, 1, lattice),
      "pcm24" -> pcm24,
      "pcm_float" -> PcmDepthCodec.encodeFloat32(16000, 1, pcm.take(800)),
      "pcm24_to_wav" -> PcmDepthCodec.toWav(pcm24).get,
      "aiff_p0" -> AiffCodec.encode16(22050, 1, pcm.take(900), 0),
      "aiff_p1" -> aiff1,
      "aiff_to_wav" -> AiffCodec.toWav(aiff1).get,
      "au" -> au,
      "au_to_wav" -> AuCodec.toWav(au).get,
      "mp4_mjpeg" -> Mp4Container.mux(Seq(jpeg0, jpeg1, jpeg0, jpeg1), Set(0, 2),
        codec = "jpeg"),
      "mp4_co64" -> Mp4Container.mux(Seq.fill(5)(codes.take(40)), Set(0),
        uniformStsz = true, use64 = true, chunkSize = 2))
  }
}
