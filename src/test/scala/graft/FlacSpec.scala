package graft

import graft.operators.Multimodal.{FlacCodec, WavCodec}
import org.scalatest.funsuite.AnyFunSuite

/** FLAC codec gates (r13 VERDICT #4 — the compressed-audio seam):
  *
  *  - LOSSLESS ROUND-TRIP: encode16 → toWav → PCM must equal the source
  *    bit for bit, per subframe family (constant / fixed+Rice / verbatim),
  *    across block boundaries, and for stereo. This is a STRONGER gate
  *    than the JPEG family's ≤3-grey-level parity — FLAC is lossless, so
  *    anything but equality is a bug.
  *  - STEREO DECORRELATIONS: left/side, right/side, and mid/side encoded
  *    frames must reconstruct the exact samples the independent encoding
  *    carries.
  *  - HAND-CRAFTED decode-only paths the minimal encoder never emits
  *    (LPC prediction, Rice escape codes, partition order > 0, wasted
  *    bits), assembled by an in-spec bit writer — the independent
  *    reference construction, not the codec's own.
  *  - NEVER-CRASH fuzz: truncations, bit flips, random bytes — decode
  *    returns Option, never throws.
  *  - CONTAINER INVARIANCE: the q164 energy windows and audio features of
  *    a FLAC transcode equal the WAV original's exactly.
  */
class FlacSpec extends AnyFunSuite {

  /** Deterministic LCG — fixture noise without java.util.Random. */
  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def tonal(n: Int): Array[Short] =
    Array.tabulate(n) { i =>
      (8000 * math.sin(i / 23.0) + 3000 * math.sin(i / 7.1)).toShort
    }

  private def noise(n: Int, seed: Long): Array[Short] =
    lcg(seed).take(n).map(v => (v >>> 16).toShort).toArray

  private def roundTrip(sr: Int, ch: Int, pcm: Array[Short]): Unit = {
    val flac = FlacCodec.encode16(sr, ch, pcm)
    val wav = FlacCodec.toWav(flac)
    assert(wav.isDefined, "decode failed")
    val got = WavCodec.decodePcm16(wav.get)
    assert(got.isDefined)
    val (gsr, gch, gpcm) = got.get
    assert(gsr == sr && gch == ch)
    assert(gpcm.toSeq == pcm.toSeq, "PCM round-trip must be bit-exact")
  }

  test("round-trip: tonal signal takes the fixed+Rice path, bit-exact") {
    val pcm = tonal(1000)
    val flac = FlacCodec.encode16(16000, 1, pcm)
    // the predictive path must actually engage: a tonal kHz signal
    // compresses well below the 2-bytes-per-sample verbatim floor
    assert(flac.length < 2 * pcm.length,
      s"tonal signal should compress (got ${flac.length} vs raw ${2 * pcm.length})")
    roundTrip(16000, 1, pcm)
  }

  test("round-trip: md5-grade noise falls back to verbatim, bit-exact") {
    roundTrip(44100, 1, noise(777, seed = 42))
  }

  test("round-trip: constant and near-constant blocks") {
    roundTrip(8000, 1, Array.fill(300)(1234.toShort))
    roundTrip(8000, 1, Array.fill(300)(-32768.toShort))
    val step = Array.tabulate(500)(i => if (i < 250) 100 else -100).map(_.toShort)
    roundTrip(8000, 1, step)
  }

  test("round-trip: multi-frame stream crosses the 4096 block boundary") {
    roundTrip(48000, 1, tonal(4096 * 2 + 137))
  }

  test("round-trip: interleaved stereo (independent channels)") {
    val n = 600
    val l = tonal(n)
    val r = noise(n, seed = 7)
    val inter = Array.tabulate(2 * n)(i => if (i % 2 == 0) l(i / 2) else r(i / 2))
    roundTrip(22050, 2, inter)
  }

  test("stereo decorrelations: left/side, right/side, mid/side reconstruct exactly") {
    val n = 400
    val l = Array.tabulate(n)(i => (6000 * math.sin(i / 17.0)).toInt)
    val r = Array.tabulate(n)(i => (5000 * math.sin(i / 13.0) + 500).toInt)
    val expect = Array.tabulate(2 * n)(i => if (i % 2 == 0) l(i / 2) else r(i / 2))
    Seq(8, 9, 10).foreach { mode =>
      val flac = FlacCodec.encode16Stereo(16000, l, r, mode)
      val wav = FlacCodec.toWav(flac)
      assert(wav.isDefined, s"mode $mode decode failed")
      val (_, ch, pcm) = WavCodec.decodePcm16(wav.get).get
      assert(ch == 2)
      assert(pcm.map(_.toInt).toSeq == expect.toSeq,
        s"stereo mode $mode reconstruction drifted")
    }
  }

  // -----------------------------------------------------------------
  // Hand-crafted decode-only paths: an in-spec MSB-first bit writer
  // assembles frames the minimal encoder never produces.
  // -----------------------------------------------------------------

  private class BW {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0; private var n = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); n += 1
      if (n == 8) { buf.write(cur); cur = 0; n = 0 }
    }
    def bits(v: Long, w: Int): Unit = (w - 1 to 0 by -1).foreach(i => bit(((v >> i) & 1).toInt))
    def align(): Unit = while (n != 0) bit(0)
    def bytes: Array[Byte] = { align(); buf.toByteArray }
  }

  private def crc8(bs: Array[Byte]): Int = bs.foldLeft(0) { (c0, b) =>
    var c = c0 ^ (b & 0xff)
    (0 until 8).foreach(_ => c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff)
    c
  }
  private def crc16(bs: Array[Byte]): Int = bs.foldLeft(0) { (c0, b) =>
    var c = c0 ^ ((b & 0xff) << 8)
    (0 until 8).foreach(_ => c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff)
    c
  }

  /** fLaC + STREAMINFO head for a mono 16-bit stream. */
  private def streamHead(sr: Int, total: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BW
    si.bits(total, 16); si.bits(total, 16)
    si.bits(0, 24); si.bits(0, 24)
    si.bits(sr, 20); si.bits(0, 3); si.bits(15, 5)
    si.bits(total, 36); si.bits(0, 64); si.bits(0, 64)
    val b = si.bytes
    out.write(0x80); out.write(0); out.write(0); out.write(b.length)
    out.write(b)
    out.toByteArray
  }

  private def frameHead(n: Int): Array[Byte] = {
    val h = new BW
    h.bits(0x3ffe, 14); h.bit(0); h.bit(0)
    h.bits(7, 4); h.bits(0, 4); h.bits(0, 4); h.bits(4, 3); h.bit(0)
    h.bits(0, 8) // coded frame number 0
    h.bits(n - 1, 16)
    h.bytes
  }

  private def finishStream(head: Array[Byte], fw: BW, preframe: Array[Byte]): Array[Byte] = {
    val frame = fw.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write(head); out.write(frame)
    val c = crc16(frame)
    out.write((c >> 8) & 0xff); out.write(c & 0xff)
    out.toByteArray
  }

  private def startFrame(n: Int): BW = {
    val hb = frameHead(n)
    val fw = new BW
    hb.foreach(b => fw.bits(b & 0xffL, 8))
    fw.bits(crc8(hb), 8)
    fw
  }

  test("hand-crafted LPC subframe with partition order 1 decodes exactly") {
    val n = 8
    // samples following s[i] = 2 s[i-1] - s[i-2] + r[i] with planted residuals
    val res = Array(3, -2, 1, 0, -1, 2) // n - order residuals
    val s = new Array[Int](n)
    s(0) = 100; s(1) = 140
    (2 until n).foreach(i => s(i) = 2 * s(i - 1) - s(i - 2) + res(i - 2))
    val fw = startFrame(n)
    fw.bit(0); fw.bits(33, 6); fw.bit(0) // LPC order 2 (type 32 + order - 1)
    fw.bits(s(0).toLong & 0xffff, 16); fw.bits(s(1).toLong & 0xffff, 16)
    fw.bits(2, 4)  // precision - 1 = 2 -> 3-bit coefficients
    fw.bits(0, 5)  // shift 0
    fw.bits(2, 3)  // coef[0] = 2  (predicts 2 s[i-1])
    fw.bits(7, 3)  // coef[1] = -1 (3-bit signed)
    fw.bits(0, 2)  // Rice 4-bit params
    fw.bits(1, 4)  // partition order 1 -> two partitions of n/2 = 4
    // partition 0 holds n/2 - order = 2 residuals, partition 1 holds 4
    fw.bits(2, 4)  // k = 2
    Seq(3, -2).foreach { r =>
      val z = ((r.toLong << 1) ^ (r.toLong >> 63))
      (0L until (z >>> 2)).foreach(_ => fw.bit(0)); fw.bit(1); fw.bits(z & 3, 2)
    }
    fw.bits(2, 4)  // k = 2 again
    Seq(1, 0, -1, 2).foreach { r =>
      val z = ((r.toLong << 1) ^ (r.toLong >> 63))
      (0L until (z >>> 2)).foreach(_ => fw.bit(0)); fw.bit(1); fw.bits(z & 3, 2)
    }
    fw.align()
    val stream = finishStream(streamHead(8000, n), fw, null)
    val wav = FlacCodec.toWav(stream)
    assert(wav.isDefined, "LPC stream must decode")
    val (_, _, pcm) = WavCodec.decodePcm16(wav.get).get
    assert(pcm.map(_.toInt).toSeq == s.toSeq, "LPC prediction drifted")
  }

  test("hand-crafted escape-coded residual and wasted bits decode exactly") {
    val n = 6
    // verbatim-style samples via FIXED order 0 with ESCAPED residuals
    // (raw 10-bit), all under 2 wasted bits (samples are multiples of 4)
    val base = Array(100, -200, 52, 400, -32, 0) // before wasted-bit shift
    val s = base.map(_ * 4)
    val fw = startFrame(n)
    fw.bit(0); fw.bits(8, 6)       // FIXED order 0
    fw.bit(1); fw.bit(0); fw.bit(1) // wasted flag + unary 1 -> wasted = 2
    fw.bits(0, 2)  // Rice 4-bit params
    fw.bits(0, 4)  // partition order 0
    fw.bits(15, 4) // escape
    fw.bits(10, 5) // raw 10-bit residuals
    base.foreach(v => fw.bits(v.toLong & 0x3ff, 10))
    fw.align()
    val stream = finishStream(streamHead(8000, n), fw, null)
    val wav = FlacCodec.toWav(stream)
    assert(wav.isDefined, "escape/wasted stream must decode")
    val (_, _, pcm) = WavCodec.decodePcm16(wav.get).get
    assert(pcm.map(_.toInt).toSeq == s.toSeq, "escape/wasted decode drifted")
  }

  test("corrupt CRCs are rejected, not mis-decoded") {
    val pcm = tonal(500)
    val good = FlacCodec.encode16(16000, 1, pcm)
    assert(FlacCodec.toWav(good).isDefined)
    // flip one bit in the last data byte (inside frame payload or CRC)
    val bad = good.clone(); bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x01).toByte
    assert(FlacCodec.toWav(bad).isEmpty, "CRC-16 must catch payload damage")
  }

  test("never-crash fuzz: truncations, bit flips, random bytes") {
    val pcm = tonal(700)
    val good = FlacCodec.encode16(16000, 1, pcm)
    // every truncation length (stride 3 keeps it fast)
    (0 until good.length by 3).foreach { cut =>
      FlacCodec.toWav(java.util.Arrays.copyOfRange(good, 0, cut)) // must not throw
    }
    // 300 deterministic bit flips
    lcg(1234).take(300).foreach { r =>
      val pos = math.abs(r % good.length).toInt
      val bit = math.abs((r >> 32) % 8).toInt
      val mut = good.clone(); mut(pos) = (mut(pos) ^ (1 << bit)).toByte
      FlacCodec.toWav(mut) // must not throw
    }
    // random byte blobs with a valid magic prefix
    lcg(99).take(50).foreach { r =>
      val blob = ("fLaC".getBytes("US-ASCII") ++
        lcg(r).take(64).map(v => (v >>> 24).toByte)).toArray
      FlacCodec.toWav(blob)
    }
  }

  test("a stream declaring total_samples = 0 stops at the 2^24-sample cap") {
    val flac = FlacCodec.encode16(8000, 1, new Array[Short]((1 << 24) + 4096))
    // STREAMINFO's 36-bit total starts 108 bits into the body at byte 8:
    // the low nibble of byte 21 and bytes 22..25
    flac(21) = (flac(21) & 0xf0).toByte
    (22 to 25).foreach(flac(_) = 0)
    assert(FlacCodec.toWav(flac).isEmpty)
  }

  test("container invariance: FLAC transcode carries identical features and q164 windows") {
    // a canonical WAV (the q164 fixture header shape) and its transcode
    val pcm = noise(144, seed = 5)
    val wavBytes = {
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
      out.write("RIFF".getBytes("US-ASCII")); w32(36 + pcm.length * 2)
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("fmt ".getBytes("US-ASCII")); w32(16)
      w16(1); w16(1); w32(16000); w32(32000); w16(2); w16(16)
      out.write("data".getBytes("US-ASCII")); w32(pcm.length * 2)
      pcm.foreach(s => w16(s & 0xffff))
      out.toByteArray
    }
    val flac = FlacCodec.transcodeFromWav(wavBytes).get
    assert(flac.length != wavBytes.length || !flac.sameElements(wavBytes))
    val wf = WavCodec.decodeAudio(wavBytes).get
    val ff = FlacCodec.decodeAudio(flac).get
    assert((wf._1, wf._2, wf._3) == (ff._1, ff._2, ff._3), "metadata must match")
    assert(wf._4.toSeq == ff._4.toSeq, "features must be identical")
    val ww = WavCodec.decodeEnergyWindows(wavBytes).get
    val fw = FlacCodec.decodeEnergyWindows(flac).get
    assert(ww.toSeq == fw.toSeq, "q164 energy windows must be identical")
  }
}
