package graft

import graft.operators.{ImageHash, Multimodal}
import graft.operators.Multimodal.GifCodec
import graft.operators.Multimodal.GifCodec.FramePlan
import org.scalatest.funsuite.AnyFunSuite

/** GIF codec gates (r15 — the in-policy codec a real corpus hits first;
  * LZW is purely algorithmic, no spec constant tables, so it fits the
  * lib-free codec discipline):
  *
  *  - LZW ROUND-TRIP: encode∘decode = identity across noise / runs /
  *    constant inputs, including streams long enough to grow the code
  *    width to 12 bits, fill the 4096-entry table, and CLEAR-restart —
  *    and the KwKwK self-reference case by construction.
  *  - LOSSLESS ROUND-TRIP (the FLAC standard, stronger than JPEG's
  *    ≤3-grey gate): encodeGray streams decode back BIT-EXACT through
  *    our decoder, both profiles, several shapes.
  *  - INDEPENDENT REFERENCE: the JDK's ImageIO GIF reader decodes our
  *    streams to the same pixels, every frame (the codec under test
  *    never touches ImageIO).
  *  - PROFILE INVARIANCE: profiles 0/1 produce byte-disjoint streams
  *    (reversed LOCAL palette — even the LZW index planes differ;
  *    interlaced rows; different sub-blocking) that decode to
  *    IDENTICAL pixels — the q229 corpus property.
  *  - COMPOSITING: partial frames at offsets, transparency holes,
  *    disposal 2 (restore background) and 3 (restore previous) against
  *    hand-computed canvases.
  *  - NEVER-CRASH fuzz over truncations and bit flips.
  *  - The planted q228 / q229 pair queries recover exactly the planted
  *    siblings on a 40-doc corpus.
  */
class GifSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def noisePixels(n: Int, seed: Long): Array[Byte] =
    lcg(seed).take(n).map(v => (v >>> 40).toByte).toArray

  test("LZW round-trip: noise, runs, constant, width growth, table-full clear") {
    val cases = Seq(
      "noise-small" -> noisePixels(256, 7),
      "constant" -> Array.fill(500)(42.toByte),
      "runs" -> Array.tabulate(1000)(i => ((i / 37) % 256).toByte),
      // kwkwk: aaa... triggers the self-reference case immediately
      "kwkwk" -> Array.fill(17)(9.toByte),
      // long noise: width grows 9→12 and the table fills + clears
      "noise-long" -> noisePixels(60000, 11),
      "empty" -> Array.emptyByteArray)
    for ((label, px) <- cases) {
      val enc = GifCodec.lzwEncode(px, 8)
      val dec = GifCodec.lzwDecode(enc, 8, px.length)
      assert(dec != null, s"$label: decode failed")
      assert(java.util.Arrays.equals(dec, px), s"$label: round-trip mismatch")
    }
    // small min-code-size too (4-entry palette, width 3→...)
    val px2 = Array.tabulate(4000)(i => (i % 4).toByte)
    val enc2 = GifCodec.lzwEncode(px2, 2)
    assert(java.util.Arrays.equals(GifCodec.lzwDecode(enc2, 2, px2.length), px2))
  }

  test("encodeGray round-trips BIT-EXACT through our decoder, both profiles") {
    for {
      (w, h) <- Seq((16, 16), (18, 16), (33, 7), (1, 1), (64, 64))
      profile <- Seq(0, 1)
    } {
      val px = noisePixels(w * h, 13 + w * 31 + h)
      val gif = GifCodec.encodeGray(w, h, px, profile)
      val (dw, dh, luma) = GifCodec.decodeLuma(gif)
        .getOrElse(fail(s"decode failed ${w}x$h p$profile"))
      assert((dw, dh) == (w, h))
      assert(luma.map(_.toByte).toSeq == px.toSeq,
        s"${w}x$h p$profile: pixels must round-trip losslessly")
    }
  }

  test("ImageIO (independent reference) decodes our streams, every frame, both profiles") {
    val frames = (0 until 3).map(i => noisePixels(16 * 16, 100 + i))
    for (profile <- Seq(0, 1)) {
      val gif = GifCodec.encode(16, 16,
        frames.map(px => FramePlan(0, 0, 16, 16, px)), profile)
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      assert(it.hasNext, "JDK GIF reader missing")
      val reader = it.next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      try {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        assert(n == 3, s"p$profile: ImageIO sees $n frames, expected 3")
        for (i <- 0 until 3) {
          val img = reader.read(i)
          assert(img.getWidth == 16 && img.getHeight == 16)
          for (y <- 0 until 16; x <- 0 until 16) {
            val rgb = img.getRGB(x, y)
            val expected = frames(i)(y * 16 + x) & 0xff
            assert((rgb & 0xff) == expected &&
              ((rgb >> 8) & 0xff) == expected && ((rgb >> 16) & 0xff) == expected,
              s"p$profile frame $i ($x,$y): ImageIO ${rgb.toHexString} vs $expected")
          }
        }
      } finally { reader.dispose(); iis.close() }
    }
  }

  test("ImageIO parity at 128x128 noise: the full code-width ladder, both directions") {
    // 16 384 noise pixels push LZW through widths 9..12 and a
    // table-full CLEAR — the regime the 16×16 fixtures never reach. A
    // MUTUAL encoder/decoder width off-by-one would pass our own
    // round-trips and fail only on real-world streams, so both
    // directions gate against the JDK:
    //  (a) our encoder → ImageIO decode (reference decoder), and
    //  (b) ImageIO-WRITTEN gif → our decoder (a genuine third-party
    //      stream through our LZW).
    val px = noisePixels(128 * 128, 77)
    val ours = GifCodec.encodeGray(128, 128, px)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(img != null && img.getWidth == 128 && img.getHeight == 128)
    for (y <- 0 until 128; x <- 0 until 128) {
      val expected = px(y * 128 + x) & 0xff
      assert((img.getRGB(x, y) & 0xff) == expected,
        s"(a) ImageIO disagrees at ($x,$y)")
    }
    // (b): have the JDK write a GIF of the same pixels
    val bi = new java.awt.image.BufferedImage(128, 128,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 128; x <- 0 until 128)
      bi.getRaster.setSample(x, y, 0, px(y * 128 + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", bos), "JDK GIF writer missing")
    val theirs = bos.toByteArray
    val (w, h, luma) = GifCodec.decodeLuma(theirs)
      .getOrElse(fail("our decoder rejected a JDK-written GIF"))
    assert((w, h) == (128, 128))
    // the JDK writer quantizes TYPE_BYTE_GRAY through its own palette;
    // gray-in/gray-out is value-preserving, so parity is exact
    for (y <- 0 until 128; x <- 0 until 128) {
      val expected = bi.getRaster.getSample(x, y, 0)
      assert(luma(y * 128 + x) == expected,
        s"(b) our decoder disagrees with the JDK writer at ($x,$y)")
    }
  }

  test("profile invariance: disjoint bytes, identical decoded pixels") {
    val px = noisePixels(16 * 16, 23)
    val a = GifCodec.encodeGray(16, 16, px, 0)
    val b = GifCodec.encodeGray(16, 16, px, 1)
    assert(!java.util.Arrays.equals(a, b))
    // the compressed index planes must actually differ (reversed
    // palette), not just the headers: compare the raw byte multisets
    // past the 13-byte headers
    assert(a.drop(13).toSeq != b.drop(13).toSeq)
    val (_, _, la) = GifCodec.decodeLuma(a).get
    val (_, _, lb) = GifCodec.decodeLuma(b).get
    assert(la.toSeq == lb.toSeq,
      "profiles must decode to bit-identical pixels")
  }

  test("compositing: offsets, transparency holes, disposal 2 and 3") {
    // frame 0: full canvas, gradient. frame 1: an 8x8 patch at (4,4)
    // with a transparent cross (value 7 marked transparent), disposal 3
    // (restore previous after). frame 2: full overwrite, disposal 2
    // (restore background after). frame 3: a 4x4 patch at (0,0) — must
    // land on the RESTORED-BACKGROUND canvas, not frame 2's pixels.
    val base = Array.tabulate(256)(i => (i % 251).toByte)
    val patch = Array.tabulate(64) { i =>
      if (i % 8 == 3 || i / 8 == 3) 7.toByte else (200 + i % 50).toByte
    }
    val full2 = Array.fill(256)(99.toByte)
    val patch3 = Array.fill(16)(55.toByte)
    val gif = GifCodec.encode(16, 16, Seq(
      FramePlan(0, 0, 16, 16, base),
      FramePlan(4, 4, 8, 8, patch, transparent = 7, disposal = 3),
      FramePlan(0, 0, 16, 16, full2, disposal = 2),
      FramePlan(0, 0, 4, 4, patch3)))
    val frames = GifCodec.decodeFrameLumas(gif)
    assert(frames.size == 4)
    def px(f: Int, x: Int, y: Int): Int = frames(f)._4(y * 16 + x)
    // frame 0 = base everywhere
    assert(px(0, 5, 5) == (base(5 * 16 + 5) & 0xff))
    // frame 1: patch visible except the transparent cross (base shows)
    assert(px(1, 4, 4) == (patch(0) & 0xff))
    assert(px(1, 4 + 3, 4) == (base(4 * 16 + 7) & 0xff), "transparent column shows base")
    assert(px(1, 4, 4 + 3) == (base(7 * 16 + 4) & 0xff), "transparent row shows base")
    assert(px(1, 0, 0) == (base(0) & 0xff), "outside the patch shows base")
    // frame 2: disposal 3 on frame 1 restored BASE before drawing full2
    assert(frames(2)._4.forall(_ == 99))
    // frame 3: disposal 2 on frame 2 restored the BACKGROUND (palette
    // entry 0 = gray 0) under the new patch
    assert(px(3, 0, 0) == 55 && px(3, 3, 3) == 55)
    assert(px(3, 8, 8) == 0, "disposal 2 must restore the background, not keep frame 2")
    assert(px(3, 15, 15) == 0)
  }

  test("never-crash fuzz: truncations, bit flips, hostile structures") {
    val px = noisePixels(16 * 16, 29)
    for (profile <- Seq(0, 1)) {
      val gif = GifCodec.encode(16, 16,
        (0 until 3).map(i => FramePlan(0, 0, 16, 16, noisePixels(256, 40 + i))),
        profile)
      for (len <- 0 until gif.length by 3) GifCodec.decodeRgbFrames(gif.take(len))
      for (seed <- 1 to 80) {
        val flipped = gif.clone()
        val pos = math.abs(lcg(seed).next().toInt) % flipped.length
        flipped(pos) = (flipped(pos) ^ (1 << (seed % 8))).toByte
        GifCodec.decodeRgbFrames(flipped) // must not throw
      }
    }
    // hostile: dimensions beyond the pixel cap
    val huge = GifCodec.encodeGray(16, 16, px).clone()
    huge(6) = 0xff.toByte; huge(7) = 0xff.toByte
    huge(8) = 0xff.toByte; huge(9) = 0xff.toByte
    assert(GifCodec.decodeRgbFrames(huge).isEmpty)
    // hostile: frame rect outside the canvas. Profile-0 single-frame
    // layout is fixed: 13-byte header + 768-byte global palette puts the
    // image descriptor (0x2c) at offset 781
    val gif2 = GifCodec.encode(16, 16, Seq(FramePlan(0, 0, 16, 16, px)))
    assert((gif2(781) & 0xff) == 0x2c, "descriptor offset drifted")
    val oob = gif2.clone()
    oob(782) = 12 // left=12 with w=16 overruns the 16-wide canvas
    assert(GifCodec.decodeRgbFrames(oob).isEmpty)
    // empty GCE (declared block size 0): the size byte IS the sub-block
    // terminator — the frame after it must still decode (r15 review
    // finding: skipping one past it read the image descriptor's 0x2C as
    // a phantom sub-block length and dropped every remaining frame)
    val plain = GifCodec.encodeGray(16, 16, px)
    val spliced = plain.take(781) ++
      Array(0x21.toByte, 0xf9.toByte, 0x00.toByte) ++ plain.drop(781)
    val framesAfterEmptyGce = GifCodec.decodeFrameLumas(spliced)
    assert(framesAfterEmptyGce.size == 1, "empty GCE must not eat the frame")
    assert(framesAfterEmptyGce.head._4.map(_.toByte).toSeq == px.toSeq)
    // not a gif at all
    assert(GifCodec.decodeRgbFrames("GIF89b junk".getBytes).isEmpty)
    assert(GifCodec.decodeRgbFrames(Array.emptyByteArray).isEmpty)
  }

  test("composited frames stay inside the 2^24-pixel budget") {
    // 200 one-pixel frames on a 1024×1024 canvas: each returned frame is
    // a full-canvas copy, so only 16 fit the budget
    val gif = GifCodec.encode(1024, 1024,
      (0 until 200).map(i => FramePlan(i, 0, 1, 1, Array(i.toByte))))
    assert(gif.length < 8192)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val frames = GifCodec.decodeRgbFrames(gif)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    val n = frames.size // not inside assert: a failure would print every frame
    assert(n == (1 << 24) / (1024 * 1024), s"$n frames")
    assert(frames.last._4(n - 1) == (n - 1) * 0x010101)
    assert(allocated < (128L << 20), s"allocated $allocated bytes")
    // the still decode composites frame 0 only
    val before1 = mx.getThreadAllocatedBytes(tid)
    val (w, h, luma) = GifCodec.decodeLuma(gif).get
    val firstOnly = mx.getThreadAllocatedBytes(tid) - before1
    assert(firstOnly < (16L << 20), s"first-frame decode allocated $firstOnly bytes")
    val (_, fw, fh, frame0) = GifCodec.decodeFrameLumas(gif).head
    assert((w, h) == ((fw, fh)) && java.util.Arrays.equals(luma, frame0),
      "decodeLuma must return frame 0")
  }

  test("q228 mixed corpus: GIF trans-code is hash-invariant, pairs cross a real LZW decode") {
    // the q159 PNG gate applied to GIF: re-encoding every original as a
    // real GIF (alternating profiles — half interlaced with a reversed
    // local palette) must not move a single hash bit vs the all-PNM
    // corpus, so the recovered pair set is IDENTICAL to q159's design
    // and the golden pins double as a GIF-decoder correctness gate
    val docs = Tables.documents(spark, sf001)
    val pnmHashes = ImageHash.imageHashes(ImageHash.syntheticPnm(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val mixed = ImageHash.syntheticGifImages(docs)
    val gifHashes = ImageHash.imageHashes(mixed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gifHashes === pnmHashes, "GIF trans-code moved a hash")
    // originals GIF (both profiles appear), siblings PNG: every planted
    // pair is cross-format
    val fmts = mixed.collect().map(a => a.asset_id -> a.mime).toMap
    assert(fmts.filter(_._1 % 2 == 0).values.forall(_ == "image/gif"))
    assert(fmts.filter(_._1 % 2 == 1).values.forall(_ == "image/png"))
    val pairs = ImageHash.nearDupImagePairs(
        ImageHash.imageHashes(ImageHash.syntheticGifImages(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hm = gifHashes.toMap
    val exp = hm.keys.filter(id => id % 2 == 0 && hm.contains(id + 1))
      .map(id => (id, id + 1,
        java.lang.Long.bitCount(hm(id) ^ hm(id + 1)).toLong))
      .filter(_._3 <= 3).toSeq.sorted
    assert(pairs.toSeq.sorted === exp)
    assert(exp.nonEmpty, "sf0.001 must plant at least one recoverable pair")
  }

  test("q229 pair query recovers exactly the planted animated-GIF siblings at distance 0") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"anim doc $i body")).toDF("doc_id", "text")
    val fh = ImageHash.videoFrameHashes(ImageHash.syntheticAnimatedGif(docs))
    val pairs = ImageHash.videoNearDupPairs(fh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (0L until 40L by 10L).map(d => (d * 2, d * 2 + 1)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected)
    for ((a1, _, nMatch) <- pairs) {
      val n = 3 + (a1 / 2) % 5
      assert(nMatch == n - 1, s"pair of asset $a1: $nMatch of ${n - 1} unedited frames")
    }
    // GIF is lossless: unedited sibling frames must land at EXACTLY 0
    val byAsset = fh.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    for (d <- 0L until 40L by 10L) {
      val orig = byAsset(d * 2).sortBy(_._2).map(_._3)
      val sib = byAsset(d * 2 + 1).sortBy(_._2).map(_._3)
      for (i <- orig.indices) {
        if (i == 1) assert(orig(i) != sib(i), "edited frame must differ")
        else assert(orig(i) == sib(i), s"unedited frame $i must hash identically")
      }
    }
  }
}
