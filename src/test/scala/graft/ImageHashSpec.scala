package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Specs for perceptual image hashing (q159): a plain-Scala reference
  * dHash against the operator's integer implementation, real-codec
  * near-dup recovery on planted edits, and the banded join's exactness
  * contract at maxDist ≤ 3. */
class ImageHashSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import operators.{ImageHash, Multimodal}
  import Multimodal.MediaAsset

  private def p5(w: Int, h: Int, px: Array[Int]): Array[Byte] =
    (s"P5 $w $h 255\n".getBytes("US-ASCII").toSeq ++ px.map(_.toByte)).toArray

  /** Independent reference: double-valued cell means over the same
    * floor-division boxes, plain > comparison. Counts are equal for the
    * grid-aligned sizes used here, so mean compare ≡ the operator's
    * cross-multiplied integer compare. */
  private def refDhash(w: Int, h: Int, luma: Array[Int]): Long = {
    val cols = 9
    val cells = Array.tabulate(8, cols) { (gy, gx) =>
      val ys = (0 until h).filter(y => math.min(y * 8 / h, 7) == gy)
      val xs = (0 until w).filter(x => math.min(x * cols / w, cols - 1) == gx)
      val vs = for (y <- ys; x <- xs) yield luma(y * w + x).toDouble
      if (vs.isEmpty) 0.0 else vs.sum / vs.size
    }
    (for (gy <- 0 until 8; gx <- 0 until 8
          if cells(gy)(gx + 1) > cells(gy)(gx))
      yield 1L << (gy * 8 + gx)).sum
  }

  test("q159 dhash matches the double-mean reference; constant image hashes to 0") {
    val rnd = new scala.util.Random(7)
    val px = Array.fill(18 * 16)(rnd.nextInt(256))
    val Some((w, h, luma)) = Multimodal.PnmCodec.decodeLuma(p5(18, 16, px))
    assert((w, h) === ((18, 16)))
    assert(luma.toSeq === px.toSeq, "P5 luma is the raw plane")
    assert(ImageHash.dhash(w, h, luma) === refDhash(w, h, luma))
    val flat = Array.fill(18 * 16)(128)
    val Some((_, _, luF)) = Multimodal.PnmCodec.decodeLuma(p5(18, 16, flat))
    assert(ImageHash.dhash(18, 16, luF) === 0L)
  }

  test("q159 decodeLuma: P6 uses BT.601 integer weights") {
    // one red pixel: luma = 255·299/1000 = 76 (floor)
    val bytes = ("P6 1 1 255\n".getBytes("US-ASCII").toSeq ++
      Seq(255, 0, 0).map(_.toByte)).toArray
    val Some((w, h, l)) = Multimodal.PnmCodec.decodeLuma(bytes)
    assert((w, h) === ((1, 1)))
    assert(l.toSeq === Seq(76))
  }

  test("q159 pairs: a one-cell edit is recovered, an inverted image is not") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val px = Array.fill(18 * 16)(rnd.nextInt(256))
    // edit: brighten ONE pooled cell (pixels (0,0)-(1,1)) to the extreme —
    // flips at most the 2 gradient bits that touch the cell
    val edited = px.clone()
    for (y <- 0 until 2; x <- 0 until 2) edited(y * 18 + x) = 255
    val inverted = px.map(255 - _)
    val assets = Seq(
      MediaAsset(1L, "image/x-portable-graymap", p5(18, 16, px)),
      MediaAsset(2L, "image/x-portable-graymap", p5(18, 16, edited)),
      MediaAsset(3L, "image/x-portable-graymap", p5(18, 16, inverted)),
      MediaAsset(4L, "image/jpeg", Array[Byte](1, 2, 3))). // undecodable: dropped
      toDS()
    val pairs = ImageHash.nearDupImagePairs(ImageHash.imageHashes(assets))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(pairs.head._3 <= 3L)
  }

  test("q159 cross-format: a JPEG original pairs with its P5 edit — JPEG decode feeds the hash") {
    import spark.implicits._
    // smooth horizontal ramp: every pooled-cell gradient margin (~28
    // luma levels) dwarfs baseline-JPEG q90 error (≤ ~3), so the dHash
    // is IDENTICAL across containers and pair recovery is deterministic
    // — the lossy-format analogue of the PNG mixed-corpus gate
    def jpegGray(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) {
        val v = px(y * w + x) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.9f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close(); writer.dispose()
      bos.toByteArray
    }
    val px = Array.tabulate(18 * 16)(i => math.min(255, (i % 18) * 14))
    val edited = px.clone()
    for (y <- 0 until 2; x <- 0 until 2) edited(y * 18 + x) = 255
    val assets = Seq(
      MediaAsset(1L, "image/jpeg", jpegGray(18, 16, px)),
      MediaAsset(2L, "image/x-portable-graymap", p5(18, 16, edited)),
      MediaAsset(3L, "image/x-portable-graymap", p5(18, 16, px.map(255 - _))))
      .toDS()
    val pairs = ImageHash.nearDupImagePairs(ImageHash.imageHashes(assets))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)),
      s"JPEG-vs-P5 sibling pair must surface: ${pairs.toSeq}")
    assert(pairs.head._3 <= 3L)
    // on this corpus the hash itself is container-invariant: the JPEG
    // original and the P5 original hash to the SAME 64 bits
    val hJpeg = ImageHash.imageHashes(
      Seq(MediaAsset(9L, "image/jpeg", jpegGray(18, 16, px))).toDS())
      .collect().head.getLong(1)
    val hP5 = ImageHash.imageHashes(
      Seq(MediaAsset(9L, "image/x-portable-graymap", p5(18, 16, px))).toDS())
      .collect().head.getLong(1)
    assert(hJpeg == hP5, f"container changed the perceptual hash: $hJpeg%x vs $hP5%x")
  }

  test("q159 banding: distance-3 pairs always surface; distance-4 pairs are cut") {
    import spark.implicits._
    // d(1,2) = 3 (bits 0,1,2 — all in band 0; bands 1-3 still match);
    // d(1,3) = 4 spread across bands — every band differs? no: bits
    // 0,16,32,48 hit ALL four bands, so the banded join yields no
    // candidate — and exactness is still honored because 4 > maxDist
    val hashes = Seq(
      (1L, 0L),
      (2L, 7L),
      (3L, (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)))
      .toDF("asset_id", "dhash")
    val got = ImageHash.nearDupImagePairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 3L)))
  }

  private def wav(samples: Array[Int], channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    def le16(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    (("RIFF".getBytes("US-ASCII").toSeq ++ le32(36 + dataLen) ++
      "WAVE".getBytes("US-ASCII").toSeq ++
      "fmt ".getBytes("US-ASCII").toSeq ++ le32(16) ++
      le16(1) ++ le16(channels) ++ le32(16000) ++ le32(16000 * 2 * channels) ++
      le16(2 * channels) ++ le16(16) ++
      "data".getBytes("US-ASCII").toSeq ++ le32(dataLen)) ++
      samples.flatMap(s => le16(s & 0xffff))).toArray
  }

  test("q164 energy windows: silence hashes to 0, a rising ramp to all-ones") {
    import operators.ImageHash.energyHash
    val silent = Multimodal.WavCodec.decodeEnergyWindows(wav(Array.fill(130)(0)))
    assert(silent.isDefined && energyHash(silent.get) === 0L)
    // amplitude grows every 2-sample window → every adjacent energy
    // comparison is a strict increase → all 64 bits set
    val ramp = Multimodal.WavCodec.decodeEnergyWindows(
      wav(Array.tabulate(130)(i => i * 10)))
    assert(energyHash(ramp.get) === -1L)
    // fewer frames than windows: decode refuses (no empty windows)
    assert(Multimodal.WavCodec.decodeEnergyWindows(wav(Array.fill(64)(1))).isEmpty)
  }

  test("q164 energy windows: hand-computed sums on a 65-window-aligned signal") {
    // 130 frames → exactly 2 per window; energy(w) = s(2w)² + s(2w+1)²
    val samples = Array.tabulate(130)(i => if (i % 2 == 0) 3 else -4)
    val Some(e) = Multimodal.WavCodec.decodeEnergyWindows(wav(samples))
    assert(e.length === 65 && e.forall(_ === 25L))
    // stereo: channels average to mono before squaring — (3,-4) → 0 each
    val stereo = Array.tabulate(260)(i => if (i % 2 == 0) 3 else -4)
    val Some(es) = Multimodal.WavCodec.decodeEnergyWindows(wav(stereo, channels = 2))
    assert(es.forall(_ === 0L), "mono average of (3,-4) floors to 0")
  }

  test("q164 synthetic corpus: planted audio siblings within 3 bits recovered exactly") {
    val docs = Tables.documents(spark, sf001)
    val hashes = ImageHash.audioEnergyHashes(ImageHash.syntheticWav(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = hashes.keys.filter(id => id % 2 == 0 && hashes.contains(id + 1))
      .map(id => (id, id + 1,
        java.lang.Long.bitCount(hashes(id) ^ hashes(id + 1)).toLong))
      .filter(_._3 <= 3).toSeq.sorted
    val got = ImageHash.nearDupImagePairs(
        ImageHash.audioEnergyHashes(ImageHash.syntheticWav(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === exp)
    assert(exp.nonEmpty, "sf0.001 must plant at least one recoverable audio sibling")
  }

  test("q172 incremental face equals the full face restricted to batch×store pairs") {
    val docs = Tables.documents(spark, sf001)
    val hashes = ImageHash.imageHashes(ImageHash.syntheticPnm(docs))
    val full = ImageHash.nearDupImagePairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => p._1 % 2 != p._2 % 2) // one store (even), one batch (odd)
      .toSet
    val inc = ImageHash.incrementalNearDupPairs(
        hashes.filter(col("asset_id") % 2 === 1),
        hashes.filter(col("asset_id") % 2 === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full, "incremental must equal the restricted full face")
    assert(inc.nonEmpty)
  }

  test("q225 incremental video face equals the full face restricted to batch×store pairs") {
    val docs = Tables.documents(spark, sf001)
    val frames = ImageHash.videoFrameHashes(ImageHash.syntheticMjpeg(docs))
    val full = ImageHash.videoNearDupPairs(frames).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => p._1 % 2 != p._2 % 2) // one store (even), one batch (odd)
      .toSet
    val inc = ImageHash.incrementalVideoNearDupPairs(
        frames.filter(col("asset_id") % 2 === 1),
        frames.filter(col("asset_id") % 2 === 0)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full, "incremental must equal the restricted full face")
    assert(inc.nonEmpty, "sf0.001 must plant at least one cross-parity video sibling")
  }

  test("q159 synthetic corpus: every planted sibling pair within 3 bits is recovered, nothing else") {
    val docs = Tables.documents(spark, sf001)
    val hashes = ImageHash.imageHashes(ImageHash.syntheticPnm(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exp = hashes.keys.filter(id => id % 2 == 0 && hashes.contains(id + 1))
      .map(id => (id, id + 1,
        java.lang.Long.bitCount(hashes(id) ^ hashes(id + 1)).toLong))
      .filter(_._3 <= 3).toSeq.sorted
    val got = operators.ImageHash.nearDupImagePairs(
        ImageHash.imageHashes(ImageHash.syntheticPnm(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // non-sibling collisions are possible in principle; on this corpus the
    // recovered set IS the sibling set (checked exactly, not ⊆)
    assert(got === exp)
    assert(exp.nonEmpty, "sf0.001 must plant at least one recoverable sibling")
  }

  test("q159 mixed corpus: PNG re-encode is hash-invariant, sibling pairs are cross-format") {
    val docs = Tables.documents(spark, sf001)
    val pnmHashes = ImageHash.imageHashes(ImageHash.syntheticPnm(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val mixed = ImageHash.syntheticImages(docs)
    val mixedHashes = ImageHash.imageHashes(mixed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the hash reads pixels, not containers: re-encoding every even-doc
    // original as PNG must not move a single bit — this is what lets the
    // q159/q172 golden pins double as the PNG decoder's correctness gate
    assert(mixedHashes === pnmHashes, "PNG trans-code moved a hash")
    // and the corpus really is mixed, with every sibling pair cross-format
    val fmts = mixed.collect().map(a => a.asset_id -> a.mime).toMap
    val pngs = fmts.count(_._2 == "image/png")
    assert(pngs > 0 && pngs < fmts.size, s"corpus must mix formats: $pngs/${fmts.size}")
    val siblings = fmts.keys.filter(id => id % 2 == 1).toSeq
    assert(siblings.nonEmpty)
    siblings.foreach { sib =>
      assert(fmts(sib) == "image/x-portable-graymap" &&
        fmts(sib - 1) == "image/png",
        s"sibling pair (${sib - 1}, $sib) must be PNG original vs P5 edit")
    }
  }
}
