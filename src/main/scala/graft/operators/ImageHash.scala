package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual image hashing + near-duplicate detection (q159): the
  * multimodal counterpart of MinHash/SimHash text dedup. Each image's
  * luminance plane average-pools to a 9×8 grid and the 64 horizontal
  * neighbor comparisons pack into one BIGINT — the classic dHash
  * (difference hash): re-encodes, resizes, and small edits preserve most
  * gradient signs, so near-duplicate images land within a few bits.
  *
  * Scale design: decode + hash is a NARROW mapPartitions over the asset
  * scan (the [[Multimodal]] discipline — binary payloads never shuffle;
  * only 16-byte (id, hash) rows flow onward). Candidate generation is
  * banded exactly like SimHash (q53): the 64-bit hash splits into 4
  * 16-bit bands, pairs join per band — by pigeonhole any pair within
  * Hamming distance 3 shares at least one band, so at `maxDist` ≤ 3 the
  * banded join is EXACT, not approximate. Verification is columnar
  * (`bit_count(h1 ^ h2)`), bands dedupe with one distinct.
  *
  * All arithmetic is integer (floor-division pooling, cross-multiplied
  * mean comparison), so hashes are bit-identical on any platform and
  * partitioning.
  */
object ImageHash {

  import Multimodal.MediaAsset

  /** Scratch dirs created by [[videoCurationPipelineFrom]]'s default
    * `shardDir` — queued for recursive deletion at JVM exit through ONE
    * shared shutdown hook (a hook per call would accumulate across bench
    * sweeps). Caller-supplied dirs are never registered. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val scratchHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { f =>
        org.apache.commons.io.FileUtils.deleteQuietly(f); ()
      }))
  private def registerScratchDir(d: java.io.File): Unit = {
    scratchHookInstalled
    scratchDirs.add(d); ()
  }

  /** dHash of one decoded luminance plane: pool to (gw+1)×gh cells with
    * floor-division box boundaries, set bit (y·gw + x) iff the right
    * cell's mean exceeds its left neighbor's — compared exactly via
    * cross-multiplication, never a float division. */
  private[graft] def dhash(w: Int, h: Int, luma: Array[Int],
      gw: Int = 8, gh: Int = 8): Long = {
    val cols = gw + 1
    val sums = new Array[Long](cols * gh)
    val cnts = new Array[Long](cols * gh)
    var y = 0
    while (y < h) {
      val gy = math.min(y * gh / h, gh - 1)
      var x = 0
      while (x < w) {
        val gx = math.min(x * cols / w, cols - 1)
        sums(gy * cols + gx) += luma(y * w + x)
        cnts(gy * cols + gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val l = gy * cols + gx
        val r = l + 1
        // mean_r > mean_l ⇔ sum_r·cnt_l > sum_l·cnt_r (all counts > 0
        // whenever w ≥ cols, h ≥ gh; empty cells compare as 0)
        val bit = sums(r) * math.max(cnts(l), 1L) > sums(l) * math.max(cnts(r), 1L)
        if (bit) hash |= 1L << (gy * gw + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** (asset_id, dhash) for every decodable asset — narrow, no shuffle.
    * Decode routes through every REAL decoder (PNM, PNG): the hash is
    * format-invariant, so the same pixels re-encoded as a different
    * format land at Hamming distance 0 — exactly the re-encode dedup
    * case perceptual hashing exists for. */
  def imageHashes(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Multimodal.decodeLumaAny(a.bytes).map { case (w, h, luma) =>
          (a.asset_id, dhash(w, h, luma))
        }
      }
    }.toDF("asset_id", "dhash")
  }

  /** Band-exploded view of a hash table: (asset_id, dhash, [extra...],
    * band, v) with the 64-bit hash split into 4 16-bit bands; `extra`
    * columns (e.g. frame_index for the video faces) pass through so
    * every banding consumer shares ONE split expression. */
  private def banded(hashes: DataFrame, extra: String*): DataFrame = {
    val keep = Seq(col("asset_id"), col("dhash")) ++ extra.map(col)
    hashes.select(keep :+ explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, shiftright(dhash, b * 16) & 65535 AS v))"))
        .as("bv"): _*)
      .select(keep :+ col("bv.band").as("band") :+ col("bv.v").as("v"): _*)
  }

  /** Near-duplicate image pairs within `maxDist` Hamming bits via the
    * 4×16-bit banded join (exact for maxDist ≤ 3). */
  def nearDupImagePairs(hashes: DataFrame, maxDist: Int = 3): DataFrame =
    imagePairsScored(BandJoin.self(
      banded(hashes).localCheckpoint(eager = false), // consumers: both join sides
      "asset_id", Seq("band", "v"), None), maxDist)

  /** Incremental face of [[nearDupImagePairs]]: NEW hashes against a
    * STORED hash table only (never store × store — those pairs are
    * already in the pair log). The at-ingest shape: a micro-batch's
    * assets probe the accumulated index, then append to it. Pairs
    * normalize to (min, max) so the log's key is orientation-free. */
  def incrementalNearDupPairs(newHashes: DataFrame, storeHashes: DataFrame,
      maxDist: Int = 3): DataFrame =
    imagePairsScored(BandJoin.probe(banded(newHashes), banded(storeHashes),
      "asset_id", Seq("band", "v"), None), maxDist)

  /** (a1, a2, dist) per candidate pair within `maxDist` bits, in id order. */
  private def imagePairsScored(c: BandJoin.Candidates, maxDist: Int): DataFrame =
    c.rows.select(c.lo.as("a1"), c.hi.as("a2"),
        col("a.dhash").as("h1"), col("b.dhash").as("h2"))
      .distinct() // a pair can match in several bands
      .select(col("a1"), col("a2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("a1", "a2")

  /** Deterministic PNM corpus derived from the documents table: one
    * 18×16 P5 image per doc (raster = 18 chained md5 blocks of the
    * text), plus, for every 10th doc, a SIBLING with the last raster
    * block regenerated — a small localized edit whose pooled means move
    * a handful of gradient signs, the planted near-duplicate the pair
    * query must recover. Assembly is pure column ops (concat/unhex);
    * the bytes then flow through the REAL P5 decoder. */
  def syntheticPnm(docs0: DataFrame): Dataset[MediaAsset] = {
    import docs0.sparkSession.implicits._
    // spread the downstream decode+hash across tasks even when the source
    // table is one parquet split (Multimodal.spreadByDocId's contract)
    val docs = Multimodal.spreadByDocId(docs0)
    def raster(salt: String): org.apache.spark.sql.Column =
      unhex(concat((1 to 18).map { i =>
        if (i == 18 && salt.nonEmpty) md5(concat(col("text"), lit(salt)))
        else md5(concat(col("text"), lit(s"#$i")))
      }: _*))
    val header = lit("P5 18 16 255\n").cast("binary")
    val originals = docs.select((col("doc_id") * 2).as("asset_id"),
      lit("image/x-portable-graymap").as("mime"),
      concat(header, raster("")).as("bytes"))
    val siblings = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") * 2 + 1).as("asset_id"),
        lit("image/x-portable-graymap").as("mime"),
        concat(header, raster("~edit")).as("bytes"))
    originals.unionByName(siblings).as[MediaAsset]
  }

  /** Mixed-format face of [[syntheticPnm]]: SAME asset ids and SAME
    * pixels, but the originals of even docs re-encode as real PNG
    * (gray-8, via [[Multimodal.PngCodec.encodeGray]]) — so every
    * planted sibling pair is CROSS-FORMAT (PNG original vs P5 edit),
    * the re-encode dedup case perceptual hashing exists for. Because
    * dHash reads pixels, not containers, the pair set is bit-identical
    * to the all-PNM corpus — the existing q159/q172 golden pins now
    * double as a PNG-decoder correctness gate (a decode bug would move
    * hashes and fail them). P5 gray makes luma == raw pixel exactly
    * (r=g=b ⇒ (299+587+114)·r/1000 = r), so the trans-code below is
    * lossless by construction. */
  def syntheticImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      if (a.asset_id % 4 == 0) {
        Multimodal.PnmCodec.decodeLuma(a.bytes) match {
          case Some((w, h, luma)) =>
            val px = new Array[Byte](w * h)
            var i = 0
            while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
          case None => a
        }
      } else a
    }
  }

  /** Energy-delta hash of one window-energy vector (the audio dHash):
    * bit i set iff window i+1 carries strictly more energy than window
    * i — re-encodes and small edits preserve most energy gradients,
    * exactly as image gradients survive resizes. All-integer. */
  private[graft] def energyHash(energy: Array[Long]): Long = {
    var hash = 0L
    var i = 0
    while (i < energy.length - 1) {
      if (energy(i + 1) > energy(i)) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** (asset_id, dhash) for every decodable WAV or FLAC asset — narrow,
    * no shuffle; shares [[nearDupImagePairs]]'s banded Hamming join (the
    * pair machinery is modality-blind: any 64-bit perceptual hash).
    * Windows come from [[Multimodal.DefaultAudioCodec]]'s routed decode,
    * so identical PCM yields the identical hash whichever container
    * carried it — the audio twin of the q159 P5↔PNG invariance. */
  def audioEnergyHashes(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Multimodal.DefaultAudioCodec.decodeEnergyWindows(a.bytes)
          .map(e => (a.asset_id, energyHash(e)))
      }
    }.toDF("asset_id", "dhash")
  }

  /** (asset_id, dhash, rms_w) for every decodable audio asset — the
    * q239 pipeline's persisted ingest table: the energy hash plus ONE
    * integer loudness statistic its quality gate reads. rms_w =
    * floor(sqrt(total window energy / nWindows)) — the per-window RMS
    * energy, all-integer input and a single deterministic sqrt of an
    * exact integer < 2^52, so the floor is bit-stable on every
    * platform. Container-invariant by construction (windows come from
    * the routed decode). Narrow, no shuffle. */
  def audioHashStats(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Multimodal.DefaultAudioCodec.decodeEnergyWindows(a.bytes).map { e =>
          var s = 0L; var i = 0
          while (i < e.length) { s += e(i); i += 1 }
          (a.asset_id, energyHash(e),
            math.floor(math.sqrt(s.toDouble / e.length)).toLong)
        }
      }
    }.toDF("asset_id", "dhash", "rms_w")
  }

  /** Deterministic WAV corpus from the documents table — the audio twin
    * of [[syntheticPnm]]: a constant canonical 44-byte PCM header (16 kHz
    * mono 16-bit, 144 frames) + 18 md5 blocks of the text as raster;
    * every 10th doc gets a SIBLING with the last block regenerated. */
  def syntheticWav(docs0: DataFrame): Dataset[MediaAsset] = {
    import docs0.sparkSession.implicits._
    // same split-independence repartition as syntheticPnm
    val docs = Multimodal.spreadByDocId(docs0)
    val header = Multimodal.Riff.header(1, 1, 16000, 16, 2, 288)
    def raster(salt: String): org.apache.spark.sql.Column =
      unhex(concat((1 to 18).map { i =>
        if (i == 18 && salt.nonEmpty) md5(concat(col("text"), lit(salt)))
        else md5(concat(col("text"), lit(s"@$i")))
      }: _*))
    val originals = docs.select((col("doc_id") * 2).as("asset_id"),
      lit("audio/wav").as("mime"), concat(lit(header), raster("")).as("bytes"))
    // siblings TRANSCODE to FLAC around the identical PCM (r13 VERDICT
    // #4): every recovered pair is now cross-format WAV↔FLAC through a
    // REAL compressed-audio decode — and because FLAC is lossless the
    // decoded windows, hashes, pairs, oracle artifacts, and goldens are
    // all byte-identical to the old all-WAV corpus (the q159 mixed
    // P5+PNG move, audio edition)
    val siblings = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") * 2 + 1).as("asset_id"),
        lit("audio/flac").as("mime"),
        concat(lit(header), raster("~edit")).as("bytes"))
      .as[MediaAsset]
      .map(a => MediaAsset(a.asset_id, a.mime,
        Multimodal.FlacCodec.transcodeFromWav(a.bytes).getOrElse(
          throw new IllegalStateException(
            s"fixture WAV ${a.asset_id} failed FLAC transcode"))))
    originals.as[MediaAsset].unionByName(siblings)
  }

  /** Mixed AIFF/AIFC/AU corpus (q237, r16): the [[syntheticWav]] PCM
    * with every ORIGINAL trans-coded into one of the three big-endian-
    * family containers cycling by id — plain AIFF (PCM16 BE), AIFC
    * `sowt` (PCM16 LITTLE-endian — every sample's bytes swapped), and
    * Sun AU (PCM16 BE behind a 28-byte offset-honoring header) — while
    * the planted edited SIBLINGS keep [[syntheticWav]]'s FLAC
    * containers, so every recovered pair crosses TWO real compressed/
    * container decodes (AIFF-family on one side, FLAC on the other).
    * All three trans-codes carry the PCM verbatim, so the energy
    * windows, hashes and PAIR SET are bit-identical to the q164 corpus
    * — the q164
    * pins double as the AIFF/AU decoders' correctness gate (80-bit
    * extended rate parse, SSND prologue, byte-order resolve, and the
    * AU offset walk all sit on the pair path). */
  def syntheticAiffAu(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticWav(docs).map { a =>
      if (a.asset_id % 2 != 0 || a.mime != "audio/wav") a
      else {
        val recoded = ((a.asset_id / 2) % 3) match {
          case 0 => Multimodal.AiffCodec.transcodeFromWav(a.bytes, 0)
            .map(b => Multimodal.MediaAsset(a.asset_id, "audio/aiff", b))
          case 1 => Multimodal.AiffCodec.transcodeFromWav(a.bytes, 1)
            .map(b => Multimodal.MediaAsset(a.asset_id, "audio/aifc", b))
          case _ => Multimodal.AuCodec.transcodeFromWav(a.bytes)
            .map(b => Multimodal.MediaAsset(a.asset_id, "audio/basic", b))
        }
        recoded.getOrElse(throw new IllegalStateException(
          s"fixture WAV ${a.asset_id} failed AIFF/AU transcode"))
      }
    }
  }

  /** PCM bit-depth corpus (q238, r16): the [[syntheticWav]] PCM with
    * every ORIGINAL re-carried at a non-canonical depth, alternating —
    * 24-bit WAV (v << 8, narrowed back exactly by the top-16 decode)
    * and 32-bit FLOAT WAV (v / 32767f, inverted exactly by the
    * round-half-even rescale — identity proven exhaustively in
    * PcmDepthSpec) — while the planted edited SIBLINGS keep their FLAC
    * containers. Both depth conversions are lossless on 16-bit PCM, so
    * the energy windows, hashes and PAIR SET are bit-identical to the
    * q164 corpus — the q164 pins double as the depth decoder's
    * correctness gate (24-bit narrowing and float rescale both sit on
    * the pair path). */
  def syntheticPcmDepth(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticWav(docs).map { a =>
      if (a.asset_id % 2 != 0 || a.mime != "audio/wav") a
      else {
        val recoded =
          if ((a.asset_id / 2) % 2 == 0)
            Multimodal.PcmDepthCodec.transcodeFromWav24(a.bytes)
              .map(b => Multimodal.MediaAsset(a.asset_id, "audio/wav-24bit", b))
          else
            Multimodal.PcmDepthCodec.transcodeFromWavFloat(a.bytes)
              .map(b => Multimodal.MediaAsset(a.asset_id, "audio/wav-float32", b))
        recoded.getOrElse(throw new IllegalStateException(
          s"fixture WAV ${a.asset_id} failed depth transcode"))
      }
    }
  }

  /** The q239 corpus (r16): the [[syntheticWav]] raster PCM with TWO
    * planted structures — (a) every doc whose id ≡ 0 (mod 7) QUIETS its
    * samples (v >> 4: per-window RMS drops ≈16× from ≈39 800 to
    * ≈2 490, far below the loudness gate's [16 384, 49 152) band — the
    * degenerate near-silent asset an audio curation pass must drop;
    * both pair members quiet together so the dedup gate is
    * undisturbed), and (b) ORIGINALS cycle ALL SEVEN lossless audio
    * carriers (canonical WAV, FLAC, AIFF, AIFC-sowt, AU, 24-bit WAV,
    * float32 WAV) while SIBLINGS stay canonical WAV — the whole audio
    * decoder family sits on ONE declared pipeline's ingest path. The
    * carrier cycles by (docId / 7) % 7, NOT docId % 7 (the q234
    * anti-correlation argument verbatim). Quieting is a per-sample
    * arithmetic shift, identical for both members of a planted pair,
    * so pair membership is unaffected. */
  def syntheticCurationAudio(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)].flatMap { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def pcm(salt: String): Array[Short] = {
          val raw = new Array[Byte](288)
          var i = 1
          while (i <= 18) {
            val block =
              if (i == 18 && salt.nonEmpty) md.digest((text + salt).getBytes("UTF-8"))
              else md.digest((text + s"@$i").getBytes("UTF-8"))
            System.arraycopy(block, 0, raw, (i - 1) * 16, 16)
            i += 1
          }
          val out = new Array[Short](144) // the syntheticWav LE frames
          var j = 0
          while (j < 144) {
            val v = ((raw(2 * j) & 0xff) | (raw(2 * j + 1) << 8)).toShort
            out(j) = if (id % 7 == 0) (v >> 4).toShort else v
            j += 1
          }
          out
        }
        def carrier(p: Array[Short]): MediaAsset = ((id / 7) % 7) match {
          case 0 => Multimodal.MediaAsset(id * 2, "audio/wav",
            Multimodal.pcmWavBytes(16000, 1, p))
          case 1 => Multimodal.MediaAsset(id * 2, "audio/flac",
            Multimodal.FlacCodec.encode16(16000, 1, p))
          case 2 => Multimodal.MediaAsset(id * 2, "audio/aiff",
            Multimodal.AiffCodec.encode16(16000, 1, p, 0))
          case 3 => Multimodal.MediaAsset(id * 2, "audio/aifc",
            Multimodal.AiffCodec.encode16(16000, 1, p, 1))
          case 4 => Multimodal.MediaAsset(id * 2, "audio/basic",
            Multimodal.AuCodec.encode16(16000, 1, p))
          case 5 => Multimodal.MediaAsset(id * 2, "audio/wav-24bit",
            Multimodal.PcmDepthCodec.encode24(16000, 1, p))
          case _ => Multimodal.MediaAsset(id * 2, "audio/wav-float32",
            Multimodal.PcmDepthCodec.encodeFloat32(16000, 1, p))
        }
        val orig = carrier(pcm(""))
        if (id % 10 == 0)
          Seq(orig, Multimodal.MediaAsset(id * 2 + 1, "audio/wav",
            Multimodal.pcmWavBytes(16000, 1, pcm("~edit"))))
        else Seq(orig)
      }
  }

  /** END-TO-END audio curation pipeline (q239): the [[curationFunnelFrom]]
    * machinery over the audio ingest table — near-dup gate (drop the
    * higher asset of every ≤3-bit energy-hash pair), loudness gate
    * (rms_w ∈ [16 384, 49 152) drops the planted near-silent docs), and
    * the physical shard write with read-back counts. */
  def audioCurationPipeline(stats: DataFrame, assetsPerShard: Long = 64,
      bucketSize: Long = 64, shardDir: Option[String] = None): DataFrame = {
    val st = stats.localCheckpoint(eager = false) // consumers: dupIds + stages
    audioCurationPipelineFrom(st,
      nearDupImagePairs(st.select("asset_id", "dhash"))
        .select(col("a2").as("asset_id")).distinct(),
      assetsPerShard, bucketSize, shardDir)
  }

  /** Stage-1-onward body of [[audioCurationPipeline]] with the drop set
    * passed in — the streaming twin's publish half runs THIS code, the
    * [[imageCurationPipelineFrom]] discipline verbatim. */
  def audioCurationPipelineFrom(stats: DataFrame, dupIds: DataFrame,
      assetsPerShard: Long = 64, bucketSize: Long = 64,
      shardDir: Option[String] = None): DataFrame =
    curationFunnelFrom(stats, dupIds, "rms_w", 16384L, 49152L,
      "1_audio_dedup", assetsPerShard, bucketSize, shardDir, "graft-q239-shards")

  /** Telephony/ADPCM twin of [[syntheticWav]] (q226): each doc's codec
    * family is doc_id % 3 — μ-law (G.711), A-law (G.711), IMA ADPCM —
    * and the 288-byte md5 raster is interpreted as that codec's CODE
    * bytes (G.711 samples / ADPCM block headers + nibbles). The ORIGINAL
    * asset is the decoded canonical PCM16 WAV, so its PCM sits on the
    * codec's lattice BY CONSTRUCTION; every 10th doc's SIBLING is the
    * compressed container itself with the last raster block regenerated.
    * Original and sibling therefore decode to IDENTICAL PCM outside the
    * edited tail — the exact cross-format invariance the FLAC corpus
    * gets from losslessness, recovered here for lossy codecs by
    * generating ON the lattice. A decode bug in either direction moves
    * the energy windows and breaks the planted pairs. For ADPCM the edit
    * stays local because blocks restart prediction at their headers
    * (md5 block #18 lands inside ADPCM block 2's tail). */
  def syntheticCodecWav(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text"))).as[(Long, String)].flatMap { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def raster(salt: String): Array[Byte] = {
        val out = new Array[Byte](288)
        var i = 1
        while (i <= 18) {
          val block =
            if (i == 18 && salt.nonEmpty) md.digest((text + salt).getBytes("UTF-8"))
            else md.digest((text + s"%$i").getBytes("UTF-8"))
          System.arraycopy(block, 0, out, (i - 1) * 16, 16)
          i += 1
        }
        out
      }
      def container(data: Array[Byte]): Array[Byte] = (id % 3) match {
        case 0 => Multimodal.G711Codec.wrap(7, 16000, 1, data)
        case 1 => Multimodal.G711Codec.wrap(6, 16000, 1, data)
        case _ => Multimodal.AdpcmCodec.wrap(16000, 1, 144, data)
      }
      def decodeToWav(c: Array[Byte]): Array[Byte] =
        (if (id % 3 == 2) Multimodal.AdpcmCodec.toWav(c)
         else Multimodal.G711Codec.toWav(c)).getOrElse(
          throw new IllegalStateException(s"fixture codec decode failed for doc $id"))
      val mime = (id % 3) match {
        case 0 => "audio/g711-ulaw"
        case 1 => "audio/g711-alaw"
        case _ => "audio/adpcm"
      }
      val orig = Multimodal.MediaAsset(id * 2, "audio/wav",
        decodeToWav(container(raster(""))))
      if (id % 10 == 0)
        Seq(orig, Multimodal.MediaAsset(id * 2 + 1, mime, container(raster("~edit"))))
      else Seq(orig)
    }
  }

  /** (asset_id, frame_index, dhash) for every JPEG-decodable video frame
    * — the q225 entry point: REAL payload decode ([[Multimodal
    * .decodeVideoFrameLumas]]: container walk + per-sample JpegCodec),
    * narrow mapPartitions, only 20-byte hash rows flow onward. */
  def videoFrameHashes(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Multimodal.decodeVideoFrameLumas(a.bytes).iterator.map {
          case (i, w, h, luma) => (a.asset_id, i, dhash(w, h, luma))
        }
      }
    }.toDF("asset_id", "frame_index", "dhash")
  }

  /** Near-duplicate VIDEO pairs from per-frame perceptual hashes: frame
    * pairs join banded (the q159 machinery, frame-level), then aggregate
    * per asset pair — two videos pair when at least `minFrames` DISTINCT
    * frames of the first video match within `maxDist` Hamming bits
    * (count(DISTINCT f1), not matching-pair count: a video containing k
    * copies of one static frame — title cards, black frames — must
    * contribute ONE matched frame, not k², or repeated frames alone
    * would pair unrelated videos). Candidate generation stays a banded
    * equi-join (never all-pairs); the aggregation keys on (a1, a2), so
    * the shuffle is bounded by matching frame pairs, not corpus size. */
  def videoNearDupPairs(frameHashes: DataFrame, maxDist: Int = 3,
      minFrames: Long = 2): DataFrame =
    videoPairsScored(BandJoin.self(
        banded(frameHashes, "frame_index").localCheckpoint(eager = false), // both join sides
        "asset_id", Seq("band", "v"), None),
      col("a.frame_index"), col("b.frame_index"), maxDist, minFrames)
      .orderBy("a1", "a2")

  /** (a1, a2, n_match) per candidate video pair: the distinct frames
    * `f1` of the lower asset that match a frame `f2` of the higher one
    * within `maxDist` bits, kept at `minFrames` or more. */
  private def videoPairsScored(c: BandJoin.Candidates, f1: Column, f2: Column,
      maxDist: Int, minFrames: Long): DataFrame =
    c.rows.select(c.lo.as("a1"), c.hi.as("a2"), f1.as("f1"), f2.as("f2"),
        col("a.dhash").as("h1"), col("b.dhash").as("h2"))
      .distinct() // a frame pair can match in several bands
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxDist)
      .groupBy("a1", "a2")
      .agg(countDistinct(col("f1")).as("n_match"))
      .filter(col("n_match") >= minFrames)

  /** Deterministic MJPEG-in-MP4 corpus (q225): each doc becomes a real
    * ISO BMFF container of 3 + doc_id % 5 frames, every frame a real
    * baseline JPEG (16×16 grayscale, raster = 16 md5 blocks of the doc
    * text) encoded by [[Multimodal.JpegCodec.encodeGray]]. Every 10th
    * doc gets a SIBLING that re-encodes the SAME pixels under encoder
    * PROFILE 1 (different Huffman code lengths + DRI restarts) in a
    * different chunk layout, with frame 1's raster regenerated (the
    * planted edit). Profiles differ at the entropy level only, so
    * unedited sibling frames decode to BIT-IDENTICAL luma — payload
    * hashing sees disjoint bytes everywhere, decode recovers the pairs
    * at Hamming distance 0. */
  def syntheticMjpeg(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text"))).as[(Long, String)].flatMap { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def frameImage(i: Int, edited: Boolean): Array[Byte] = {
        val px = new Array[Byte](256)
        var j = 0
        while (j < 16) {
          val salt = if (edited) "~edit" else ""
          val block = md.digest(s"$text^f$i$salt#$j".getBytes("UTF-8"))
          System.arraycopy(block, 0, px, j * 16, 16)
          j += 1
        }
        px
      }
      val n = (3 + id % 5).toInt
      def container(profile: Int, chunkSize: Int, editedFrame: Int): Array[Byte] = {
        val frames = (0 until n).map(i => Multimodal.JpegCodec.encodeGray(
          16, 16, frameImage(i, i == editedFrame), profile))
        Multimodal.Mp4Container.mux(frames, (0 until n by 3).toSet,
          codec = "jpeg", chunkSize = chunkSize)
      }
      val orig = Multimodal.MediaAsset(id * 2, "video/mp4", container(0, 3, -1))
      if (id % 10 == 0)
        Seq(orig, Multimodal.MediaAsset(id * 2 + 1, "video/mp4", container(1, 2, 1)))
      else Seq(orig)
    }
  }

  /** Cross-batch face of [[videoNearDupPairs]] (the q172 shape at video
    * level): NEW assets' frames probe the STORED frame-hash table only —
    * never store × store. Pair ids normalize to (min, max) and the
    * matched-frame count keys on the MIN side's frames, so the log
    * entry is identical whichever member arrived first; assets arrive
    * whole (one container row decodes to all its frames in one batch),
    * so the pair (a, b) is complete at the later arrival. */
  def incrementalVideoNearDupPairs(newHashes: DataFrame,
      storeHashes: DataFrame, maxDist: Int = 3,
      minFrames: Long = 2): DataFrame = {
    val aLow = col("a.asset_id") < col("b.asset_id")
    videoPairsScored(BandJoin.probe(banded(newHashes, "frame_index"),
        banded(storeHashes, "frame_index"), "asset_id", Seq("band", "v"), None),
      when(aLow, col("a.frame_index")).otherwise(col("b.frame_index")),
      when(aLow, col("b.frame_index")).otherwise(col("a.frame_index")),
      maxDist, minFrames)
  }

  /** The drop set of the video near-dup gate: the HIGHER asset of every
    * pair (the monotone keep-lowest rule the at-ingest sink can apply
    * without global coordination — the q223 stage-1 discipline). */
  def videoNearDupIds(frameHashes: DataFrame, maxDist: Int = 3,
      minFrames: Long = 2): DataFrame =
    videoNearDupPairs(frameHashes, maxDist, minFrames)
      .select(col("a2").as("asset_id")).distinct()

  /** q230 (r15, VERDICT r14 #6): the END-TO-END video-corpus curation
    * run a video-data user actually executes, as ONE declared plan —
    * ingest (decode + per-frame hash, narrow), video-level near-dup
    * gate (q225 machinery: drop the higher asset of every pair),
    * scene-cut-aware frame sampling (q227 semantics: keep one
    * representative per shot — the first frame plus every frame whose
    * consecutive-hash jump crosses the threshold), and a PHYSICAL shard
    * write whose stage-3 counts come from the WRITTEN FILES read back
    * (the q207/q223 discipline). Only (asset_id, frame_index) sets and
    * 16-byte hash rows cross stage boundaries behind lazy barriers —
    * container bytes never shuffle.
    *
    * Shard assignment is the q121 hierarchical prefix sum — contiguous
    * asset-id buckets, within-bucket window, bucket totals through one
    * small single-partition window, offsets broadcast back — NEVER a
    * single-partition window over the sampled corpus: positions are
    * globally contiguous in (asset_id, frame_index) order, so
    * shard_id = (pos−1)/framesPerShard and the read-back distinct shard
    * count must equal ceil(n/framesPerShard) arithmetically, which is
    * exactly what the oracle cross-checks.
    *
    * NOTE (r15 review): the shard write is EAGER — it runs at CALL time,
    * not when the returned funnel frame is executed, because the stage-3
    * row is a scan over the files just written (the whole point of the
    * read-back discipline). Callers wanting a dry plan must not call
    * this. When `shardDir` is None the scratch directory is JVM-scoped:
    * registered for recursive deletion at exit via one shared hook. The
    * read-back uses an explicit schema, so a zero-row stage-2 sample
    * (every frame gated) yields an empty scan and a 0/0/0 stage-3 row
    * instead of a schema-inference failure. */
  def videoCurationPipelineFrom(frameHashes: DataFrame, dupIds: DataFrame,
      framesPerShard: Long = 64, bucketSize: Long = 64,
      shardDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fh = frameHashes.localCheckpoint(eager = false) // consumers: stat + gate
    def stat(stage: String, d: DataFrame): DataFrame =
      d.agg(countDistinct(col("asset_id")).as("n_assets"),
          count(lit(1)).as("n_frames"))
        .select(lit(stage).as("stage"), col("n_assets"), col("n_frames"),
          lit(0L).as("n_shards"))
    val s1 = fh.join(dupIds.localCheckpoint(eager = false),
        Seq("asset_id"), "left_anti")
      .localCheckpoint(eager = false) // consumers: stat + sampler + write join
    val perAsset = Window.partitionBy("asset_id").orderBy("frame_index")
    val s2 = s1.withColumn("prev", lag("dhash", 1).over(perAsset))
      .withColumn("dist",
        bit_count(col("dhash").bitwiseXOR(col("prev"))).cast("long"))
      .filter(col("prev").isNull || col("dist") >= 16)
      .select("asset_id", "frame_index")
      .localCheckpoint(eager = false) // consumers: stat + manifest
    val bucketed = s2.withColumn("bucket",
      (col("asset_id") / bucketSize).cast("long"))
    val inBucket = bucketed.withColumn("pos_in_bucket", row_number().over(
      Window.partitionBy("bucket").orderBy("asset_id", "frame_index")))
    val offsets = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("boffset", coalesce(
        sum("bn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "boffset") // buckets-sized frame — broadcastable
    val manifest = inBucket.join(broadcast(offsets), "bucket")
      .withColumn("shard_id",
        ((col("boffset") + col("pos_in_bucket") - 1) / framesPerShard)
          .cast("long"))
      .select("asset_id", "frame_index", "shard_id")
    val out = shardDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft-q230-shards")
      registerScratchDir(d.toFile)
      d.toString
    }
    // Explicit read-back schema (r15 review): with a zero-row stage-2
    // sample the Overwrite leaves only _SUCCESS — inference would throw;
    // the declared schema turns that edge into an empty scan. shard_id
    // is the directory-partition column, matched by name.
    val shardSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("asset_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("frame_index",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("dhash",
        org.apache.spark.sql.types.LongType)))
    s1.join(manifest, Seq("asset_id", "frame_index"))
      .select(col("shard_id"), col("asset_id"), col("frame_index"), col("dhash"))
      // co-locate each shard BEFORE partitionBy: otherwise every task
      // writes a sliver into every shard directory (tasks × shards small
      // files — ~32× the file count; wall-neutral at sf0.1 where job
      // overhead dominates, but the file-count difference is the real
      // cost at corpus scale); the shuffle moves only 24-byte rows
      .repartition(col("shard_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(out)
    val s3 = frameHashes.sparkSession.read.schema(shardSchema).parquet(out)
      .agg(countDistinct(col("asset_id")).as("n_assets"),
        count(lit(1)).as("n_frames"),
        countDistinct(col("shard_id")).as("n_shards"))
      .select(lit("3_shards_written").as("stage"), col("n_assets"),
        col("n_frames"), col("n_shards").cast("long").as("n_shards"))
    stat("0_raw", fh)
      .unionAll(stat("1_video_dedup", s1))
      .unionAll(stat("2_scene_sample", s2))
      .unionAll(s3)
      .orderBy("stage")
  }

  /** [[videoCurationPipelineFrom]] with the gate derived in place — the
    * one-shot batch face; the streaming twin publishes through the
    * `From` seam with the gate read from its accumulated pair log. */
  def videoCurationPipeline(frameHashes: DataFrame,
      framesPerShard: Long = 64,
      shardDir: Option[String] = None): DataFrame = {
    val fh = frameHashes.localCheckpoint(eager = false) // consumers: gate + stages
    videoCurationPipelineFrom(fh, videoNearDupIds(fh), framesPerShard,
      shardDir = shardDir)
  }

  /** Scene-cut detection over REAL decoded video (q227): the
    * consecutive-frame perceptual-hash jump within each video — the shot
    * detector a video curation pipeline runs before per-scene sampling.
    * One window shuffle partitioned by asset_id (frames per asset are
    * bounded, so no skew), then a columnar bit_count filter — no joins,
    * no all-pairs anything. */
  def sceneCuts(frameHashes: DataFrame, minDist: Long = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    frameHashes
      .withColumn("prev", lag("dhash", 1).over(
        Window.partitionBy("asset_id").orderBy("frame_index")))
      .filter(col("prev").isNotNull)
      .select(col("asset_id"), col("frame_index"),
        bit_count(col("dhash").bitwiseXOR(col("prev"))).cast("long").as("dist"))
      .filter(col("dist") >= minDist)
      .orderBy("asset_id", "frame_index")
  }

  /** Scene-structured MJPEG corpus (q227): per doc, 6 + doc_id % 5
    * frames in scenes of 3 — frames WITHIN a scene share 14 of their 16
    * raster rows (the progressive-rows design below flips exactly one
    * EVEN-ALIGNED pixel-row pair per step, i.e. one dHash grid row: a
    * structurally ≤8-bit wobble for every frame parity), while a scene
    * BOUNDARY regenerates the whole image (~32-bit expected jump).
    *
    * The two sides of threshold 16 obey DIFFERENT bounds (r14 ADVICE,
    * measured over the full sf0.1 corpus — 35k consecutive pairs — in
    * MjpegSpec): the FALSE-CUT side is deterministic (8 structural bits
    * + quant-1 JPEG rounding flips confined to the one changed 8×8
    * block row; measured ceiling 9, gated ≤ 12), while the MISS side is
    * binomial — a content-random regeneration lands at mean ≈ 32,
    * σ ≈ 4.6, so its tail crosses ANY fixed threshold at some corpus
    * size (per-pair P(dist < 16) ≈ 4e-4; zero misses measured at
    * sf0.1, min 17). A "hard bimodal gap" is therefore not a scalable
    * claim; the scalable claims are zero-false-cuts (deterministic) and
    * a measured miss RATE, which is what MjpegSpec gates. Keyframes sit
    * at scene starts, as a real encoder would place them. */
  /** One scene-structured frame raster (shared by [[syntheticScenes]]
    * and [[syntheticSceneSiblings]]). Within-scene progress p: row j
    * carries its "~on" variant iff j < 2p, so consecutive frames
    * (p, p+1) differ in EXACTLY rows 2p and 2p+1 — one EVEN-aligned
    * pixel-row pair, i.e. one dHash grid row (16×16 pooling maps pixel
    * rows 2k,2k+1 onto grid row k), for EVERY frame parity. The
    * original per-frame-row design broke this on odd indices (two
    * straddling grid rows → up to 16 structural bits, halving the
    * margin to the cut threshold). */
  private def sceneFrameImage(md: java.security.MessageDigest,
      text: String, i: Int): Array[Byte] = {
    val scene = i / 3
    val p = i % 3
    val px = new Array[Byte](256)
    var j = 0
    while (j < 16) {
      val state = if (j < 2 * p) "~on" else ""
      val block = md.digest(s"$text*s$scene#$j$state".getBytes("UTF-8"))
      System.arraycopy(block, 0, px, j * 16, 16)
      j += 1
    }
    px
  }

  def syntheticScenes(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text"))).as[(Long, String)].map { case (id, text) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = (6 + id % 5).toInt
      val frames = (0 until n).map(i =>
        Multimodal.JpegCodec.encodeGray(16, 16, sceneFrameImage(md, text, i)))
      Multimodal.MediaAsset(id, "video/mp4",
        Multimodal.Mp4Container.mux(frames, (0 until n by 3).toSet, codec = "jpeg"))
    }
  }

  /** The q230 corpus: [[syntheticScenes]] EXTENDED with planted full
    * duplicates — every 10th doc gets a SIBLING container re-encoding
    * the SAME scene frames under JPEG entropy PROFILE 1 (byte-disjoint
    * streams, bit-identical luma — the q225 property) in a different
    * chunk layout. Every sibling's every frame therefore hashes at
    * Hamming 0 against its original: the video near-dup gate's drop set
    * is DETERMINISTIC (no edit-distance statistics), while the scene
    * structure inside each asset is untouched, so one corpus exercises
    * the dedup gate AND the scene-cut sampler. */
  def syntheticSceneSiblings(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)].flatMap { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = (6 + id % 5).toInt
        def container(profile: Int, chunkSize: Int): Array[Byte] =
          Multimodal.Mp4Container.mux(
            (0 until n).map(i => Multimodal.JpegCodec.encodeGray(
              16, 16, sceneFrameImage(md, text, i), profile)),
            (0 until n by 3).toSet, codec = "jpeg", chunkSize = chunkSize)
        val orig = Multimodal.MediaAsset(id * 2, "video/mp4", container(0, 3))
        if (id % 10 == 0)
          Seq(orig, Multimodal.MediaAsset(id * 2 + 1, "video/mp4", container(1, 2)))
        else Seq(orig)
      }
  }

  /** Mixed GIF/PNG still-image corpus (q228, r15): the [[syntheticPnm]]
    * pixels with every ORIGINAL re-encoded as a real GIF (alternating
    * encoder profiles, so half the corpus exercises the interlace +
    * reversed-local-palette decode paths) while the planted edited
    * SIBLINGS stay PNG — every recovered pair is cross-format GIF↔PNG,
    * recoverable only through a real decode of both containers. Both
    * trans-codes are lossless on gray pixels (PNG by construction; GIF
    * because the identity gray palette maps index i → rgb(i,i,i) →
    * BT.601 luma i·(299+587+114)/1000 = i exactly, and the reversed
    * palette composes two 255−v flips), so the PAIR SET is
    * bit-identical to the all-PNM corpus — the q159 pins double as a
    * GIF-decoder correctness gate, the same way they gate PNG. */
  def syntheticGifImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          if (a.asset_id % 2 == 0)
            MediaAsset(a.asset_id, "image/gif",
              Multimodal.GifCodec.encodeGray(w, h, px,
                profile = ((a.asset_id / 2) % 2).toInt))
          else
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
        case None => a
      }
    }
  }

  /** Interlaced/16-bit PNG corpus (q231, r16 — VERDICT r15 next-#4):
    * the [[syntheticPnm]] pixels with every ORIGINAL re-encoded under
    * one of the three NEW PNG encoder profiles — Adam7 interlaced
    * (profile 1), 16-bit depth (2), Adam7 + 16-bit (3), cycling by
    * asset id — while the planted edited SIBLINGS stay sequential
    * 8-bit PNG (profile 0, the pre-r16 decode path). Every recovered
    * pair therefore crosses an Adam7 de-interlace and/or a 16-bit
    * unfilter+downsample, and all four profiles are pixel-lossless on
    * gray (profile 2/3 widen v → v·257, whose high byte is exactly v),
    * so the PAIR SET is bit-identical to the all-PNM corpus — the q159
    * pins double as the interlace/16-bit decoder gate, the same way
    * they gate the baseline PNG and GIF decoders. */
  def syntheticInterlacedPng(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          val profile =
            if (a.asset_id % 2 == 1) 0 // sibling: plain sequential 8-bit
            else 1 + ((a.asset_id / 2) % 3).toInt
          MediaAsset(a.asset_id, "image/png",
            Multimodal.PngCodec.encodeGray(w, h, px, profile))
        case None => a
      }
    }
  }

  /** Mixed BMP/PNG still-image corpus (q232, r16): the [[syntheticPnm]]
    * pixels with every ORIGINAL re-encoded as a real Windows bitmap
    * (alternating encoder profiles, so half the corpus exercises the
    * 24-bit BI_RGB bottom-up path and half the 8-bit BI_RLE8
    * reversed-palette run-length path) while the planted edited
    * SIBLINGS stay sequential PNG — every recovered pair is
    * cross-format BMP↔PNG, recoverable only through a real decode of
    * both containers. Both trans-codes are lossless on gray (24-bit:
    * BGR (v,v,v) → BT.601 luma v exactly; RLE8: index 255−v through
    * the reversed palette resolves to (v,v,v)), so the PAIR SET is
    * bit-identical to the all-PNM corpus — the q159 pins double as
    * the BMP decoder's correctness gate, the same way they gate the
    * PNG/JPEG/GIF and Adam7 decoders. */
  def syntheticBmpImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          if (a.asset_id % 2 == 0)
            MediaAsset(a.asset_id, "image/bmp",
              Multimodal.BmpCodec.encodeGray(w, h, px,
                profile = ((a.asset_id / 2) % 2).toInt))
          else
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
        case None => a
      }
    }
  }

  /** Mixed TIFF/PNG still-image corpus (q233, r16): the [[syntheticPnm]]
    * pixels with every ORIGINAL re-encoded as a real baseline TIFF
    * (alternating encoder profiles, so half the corpus exercises the
    * little-endian single-strip path and half the BIG-endian PackBits
    * multi-strip WhiteIsZero path — byte order, run-length decode, and
    * photometric inversion all on the pair path) while the planted
    * edited SIBLINGS stay sequential PNG. Both trans-codes are
    * lossless on gray (uncompressed carries v verbatim; WhiteIsZero
    * stores 255−v and decode inverts back), so the PAIR SET is
    * bit-identical to the all-PNM corpus — the q159 pins double as
    * the TIFF decoder's correctness gate. */
  def syntheticTiffImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          if (a.asset_id % 2 == 0)
            MediaAsset(a.asset_id, "image/tiff",
              Multimodal.TiffCodec.encodeGray(w, h, px,
                profile = ((a.asset_id / 2) % 2).toInt))
          else
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
        case None => a
      }
    }
  }

  /** Mixed TGA/PNG still-image corpus (q235, r16): the [[syntheticPnm]]
    * pixels with every ORIGINAL re-encoded as a real Truevision TGA
    * (alternating encoder profiles, so half the corpus exercises the
    * uncompressed bottom-up grayscale path and half the RLE
    * color-mapped TOP-DOWN reversed-palette path — run-length decode,
    * row order, palette resolve, and the image-ID skip all on the pair
    * path) while the planted edited SIBLINGS stay sequential PNG.
    * Both trans-codes are lossless on gray (type 3 carries v verbatim;
    * the RLE profile stores index 255−v through the reversed palette),
    * so the PAIR SET is bit-identical to the all-PNM corpus — the q159
    * pins double as the TGA decoder's correctness gate. TGA is
    * magic-less, which is exactly why the corpus matters: the pair
    * path proves the strict header walk routes real TGA streams while
    * every other container still reaches its own decoder. */
  def syntheticTgaImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          if (a.asset_id % 2 == 0)
            MediaAsset(a.asset_id, "image/x-tga",
              Multimodal.TgaCodec.encodeGray(w, h, px,
                profile = ((a.asset_id / 2) % 2).toInt))
          else
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
        case None => a
      }
    }
  }

  /** Mixed ICO/PNG still-image corpus (q236, r16): the [[syntheticPnm]]
    * pixels with every ORIGINAL re-encoded as a real Windows icon
    * (alternating encoder profiles, so half the corpus exercises the
    * Vista+ PNG-payload branch and half the classic BMP-DIB branch —
    * doubled biHeight, reversed 8-bit palette, AND-mask walk — all on
    * the pair path) while the planted edited SIBLINGS stay sequential
    * PNG. Both trans-codes are lossless on gray, so the PAIR SET is
    * bit-identical to the all-PNM corpus — the q159 pins double as the
    * ICO decoder's correctness gate. */
  def syntheticIcoImages(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) { px(i) = luma(i).toByte; i += 1 }
          if (a.asset_id % 2 == 0)
            MediaAsset(a.asset_id, "image/vnd.microsoft.icon",
              Multimodal.IcoCodec.encodeGray(w, h, px,
                profile = ((a.asset_id / 2) % 2).toInt))
          else
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
        case None => a
      }
    }
  }

  /** The q234 corpus (r16): [[syntheticPnm]] pixels with TWO planted
    * structures on top — (a) every doc whose id ≡ 0 (mod 7) DARKENS its
    * pixels (v >> 2: mean luma drops from ≈127 to ≈31, far below the
    * quality gate's [64, 192) band — the degenerate-exposure asset a
    * curation pass must drop; both pair members darken together so the
    * dedup gate is undisturbed), and (b) ORIGINALS cycle all SEVEN
    * lossless still containers (P5, GIF, BMP/RLE8, TIFF/PackBits-BE,
    * Adam7 PNG, TGA/RLE-reversed-palette, ICO/DIB — since r16 the
    * full decoder family) while siblings stay sequential PNG — the
    * whole decoder family sits on ONE declared pipeline's ingest
    * path. The container cycles by (docId / 7) % 7, NOT docId % 7:
    * any mod-7 cycle would correlate container choice with the mod-7
    * darkening band (container 0 would be exactly the darkened docs),
    * whereas the div-7 cycle gives every container both darkened and
    * normal members across 49 consecutive docs. Darkening is
    * monotone (floor v/4), which can flip dHash gradient signs only at
    * near-ties; pair membership is unaffected because both members of
    * every planted pair darken identically and un-darkened docs never
    * pair with darkened ones (different docs ⇒ independent md5 noise). */
  def syntheticCurationStills(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    syntheticPnm(docs).map { a =>
      Multimodal.PnmCodec.decodeLuma(a.bytes) match {
        case Some((w, h, luma)) =>
          val docId = a.asset_id / 2
          val px = new Array[Byte](w * h)
          var i = 0
          while (i < px.length) {
            val v = if (docId % 7 == 0) luma(i) >> 2 else luma(i)
            px(i) = v.toByte; i += 1
          }
          if (a.asset_id % 2 == 1)
            MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px))
          else ((docId / 7) % 7) match {
            case 0 =>
              val out = new java.io.ByteArrayOutputStream()
              out.write(s"P5 $w $h 255\n".getBytes("US-ASCII"))
              out.write(px)
              MediaAsset(a.asset_id, "image/x-portable-graymap", out.toByteArray)
            case 1 => MediaAsset(a.asset_id, "image/gif",
              Multimodal.GifCodec.encodeGray(w, h, px))
            case 2 => MediaAsset(a.asset_id, "image/bmp",
              Multimodal.BmpCodec.encodeGray(w, h, px, profile = 1))
            case 3 => MediaAsset(a.asset_id, "image/tiff",
              Multimodal.TiffCodec.encodeGray(w, h, px, profile = 1))
            case 4 => MediaAsset(a.asset_id, "image/x-tga",
              Multimodal.TgaCodec.encodeGray(w, h, px, profile = 1))
            case 5 => MediaAsset(a.asset_id, "image/vnd.microsoft.icon",
              Multimodal.IcoCodec.encodeGray(w, h, px, profile = 1))
            case _ => MediaAsset(a.asset_id, "image/png",
              Multimodal.PngCodec.encodeGray(w, h, px, profile = 1))
          }
        case None => a
      }
    }
  }

  /** (asset_id, dhash, mean_luma) for every decodable asset — the q234
    * pipeline's persisted ingest table: the perceptual hash plus the
    * one integer pixel statistic its quality gate reads (floor mean of
    * the luminance plane — deterministic on every platform). Narrow,
    * no shuffle, same decode discipline as [[imageHashes]]. */
  def imageHashStats(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Multimodal.decodeLumaAny(a.bytes).map { case (w, h, luma) =>
          var s = 0L; var i = 0
          while (i < luma.length) { s += luma(i); i += 1 }
          (a.asset_id, dhash(w, h, luma), s / (w.toLong * h))
        }
      }
    }.toDF("asset_id", "dhash", "mean_luma")
  }

  /** END-TO-END still-image curation pipeline (q234, r16 — the stills
    * twin of [[videoCurationPipelineFrom]], closing the r15 NEXT
    * carry-forward): ingest (decode + dHash + mean-luma, narrow) →
    * image-level near-dup gate (drop the HIGHER asset of every ≤3-bit
    * pair — the monotone at-ingest rule) → quality gate (mean_luma in
    * [64, 192): the deterministic degenerate-exposure drop) → PHYSICAL
    * shard write whose stage-3 counts come from the written files read
    * back. Shard ids are the q121 hierarchical prefix sum (contiguous
    * asset buckets, within-bucket windows, broadcast bucket offsets —
    * never a single-partition corpus window), so the read-back
    * distinct-shard count equals ceil(n/assetsPerShard) exactly, which
    * the oracle cross-checks. NOTE the [[videoCurationPipelineFrom]]
    * contract carries over: the shard write happens EAGERLY at call
    * time (a side effect of building the returned report frame), and
    * the default scratch dir is JVM-scoped. */
  def imageCurationPipeline(stats: DataFrame, assetsPerShard: Long = 64,
      bucketSize: Long = 64, shardDir: Option[String] = None): DataFrame = {
    val st = stats.localCheckpoint(eager = false) // consumers: dupIds + stages
    imageCurationPipelineFrom(st,
      nearDupImagePairs(st.select("asset_id", "dhash"))
        .select(col("a2").as("asset_id")).distinct(),
      assetsPerShard, bucketSize, shardDir)
  }

  /** Stage-1-onward body of [[imageCurationPipeline]] with the drop set
    * passed in — the streaming twin's publish half
    * ([[graft.streaming.Streams.publishImageCurationSnapshot]]) derives
    * `dupIds` from the accumulated pair log and runs THIS code, so batch
    * and streamed reports are the same plan by construction (the
    * [[videoCurationPipelineFrom]] discipline). Eager-shard-write and
    * scratch-dir contracts carry over verbatim. */
  def imageCurationPipelineFrom(stats: DataFrame, dupIds: DataFrame,
      assetsPerShard: Long = 64, bucketSize: Long = 64,
      shardDir: Option[String] = None): DataFrame =
    curationFunnelFrom(stats, dupIds, "mean_luma", 64L, 192L,
      "1_image_dedup", assetsPerShard, bucketSize, shardDir, "graft-q234-shards")

  /** The funnel shared by the stills (q234) and audio (q239) curation
    * pipelines — identical machinery, parameterized only by the quality
    * metric column/band and the dedup stage label: drop the flagged
    * dup ids, gate on `metricCol` ∈ [lo, hi), assign shard ids via the
    * q121 hierarchical prefix sum (contiguous asset buckets,
    * within-bucket windows, broadcast bucket offsets — never a
    * single-partition corpus window), physically write the shards, and
    * read the stage-3 counts BACK from the written files. The shard
    * schema derives from the stats frame, so any (asset_id, dhash,
    * metric) artifact rides unchanged. */
  private def curationFunnelFrom(stats: DataFrame, dupIds: DataFrame,
      metricCol: String, lo: Long, hi: Long, dedupStage: String,
      assetsPerShard: Long, bucketSize: Long,
      shardDir: Option[String], tmpPrefix: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = stats.localCheckpoint(eager = false) // consumers: stat + gate + write
    def stat(stage: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_assets"))
        .select(lit(stage).as("stage"), col("n_assets"),
          lit(0L).as("n_shards"))
    val s1 = st.join(dupIds.localCheckpoint(eager = false),
        Seq("asset_id"), "left_anti")
      .localCheckpoint(eager = false) // consumers: stat + quality gate
    val s2 = s1.filter(col(metricCol) >= lo && col(metricCol) < hi)
      .localCheckpoint(eager = false) // consumers: stat + manifest + write
    val bucketed = s2.withColumn("bucket",
      (col("asset_id") / bucketSize).cast("long"))
    val inBucket = bucketed.withColumn("pos_in_bucket", row_number().over(
      Window.partitionBy("bucket").orderBy("asset_id")))
    val offsets = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("bn"))
      .withColumn("boffset", coalesce(
        sum("bn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "boffset") // buckets-sized frame — broadcastable
    val manifest = inBucket.join(broadcast(offsets), "bucket")
      .withColumn("shard_id",
        ((col("boffset") + col("pos_in_bucket") - 1) / assetsPerShard)
          .cast("long"))
      .select("asset_id", "shard_id")
    val out = shardDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory(tmpPrefix)
      registerScratchDir(d.toFile)
      d.toString
    }
    val statCols = st.schema.fieldNames.toSeq
    val shardSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("shard_id",
        org.apache.spark.sql.types.LongType) +:
        st.schema.fields.toSeq)
    s2.join(manifest, Seq("asset_id"))
      .select(col("shard_id") +: statCols.map(col): _*)
      .repartition(col("shard_id")) // one file per shard, not tasks × shards
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(out)
    val s3 = stats.sparkSession.read.schema(shardSchema).parquet(out)
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("shard_id")).as("n_shards"))
      .select(lit("3_shards_written").as("stage"), col("n_assets"),
        col("n_shards").cast("long").as("n_shards"))
    stat("0_raw", st)
      .unionAll(stat(dedupStage, s1))
      .unionAll(stat("2_quality_sample", s2))
      .unionAll(s3)
      .orderBy("stage")
  }

  /** Deterministic ANIMATED-GIF corpus (q229, r15 — the q225 design on
    * the other lib-free video container): each doc becomes a real
    * GIF89a animation of 3 + doc_id % 5 full-canvas 16×16 frames
    * (raster = 16 md5 blocks of the doc text, distinct salt space from
    * q225's). Every 10th doc gets a SIBLING re-encoded under encoder
    * PROFILE 1 (reversed LOCAL palette — even the LZW index planes
    * differ — interlaced rows, different sub-block size) with frame 1
    * regenerated (the planted edit). GIF is LOSSLESS, so unedited
    * sibling frames decode to BIT-IDENTICAL luma: byte-disjoint
    * containers, Hamming distance 0 — stronger than the MJPEG corpus's
    * entropy-profile parity, and only a REAL LZW + compositing decode
    * recovers it. */
  def syntheticAnimatedGif(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    Multimodal.spreadByDocId(docs.select(col("doc_id"), col("text")))
      .as[(Long, String)].flatMap { case (id, text) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def frameImage(i: Int, edited: Boolean): Array[Byte] = {
          val px = new Array[Byte](256)
          var j = 0
          while (j < 16) {
            val salt = if (edited) "~edit" else ""
            val block = md.digest(s"$text~gif$i$salt#$j".getBytes("UTF-8"))
            System.arraycopy(block, 0, px, j * 16, 16)
            j += 1
          }
          px
        }
        val n = (3 + id % 5).toInt
        def container(profile: Int, editedFrame: Int): Array[Byte] =
          Multimodal.GifCodec.encode(16, 16,
            (0 until n).map(i => Multimodal.GifCodec.FramePlan(
              0, 0, 16, 16, frameImage(i, i == editedFrame))),
            profile)
        val orig = Multimodal.MediaAsset(id * 2, "image/gif", container(0, -1))
        if (id % 10 == 0)
          Seq(orig, Multimodal.MediaAsset(id * 2 + 1, "image/gif", container(1, 1)))
        else Seq(orig)
      }
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle replay (r13, the q219/q65 artifact pattern): byte-level
  // DECODE can never be relational — but everything AFTER the hash table
  // is. Each face persists its (asset_id, dhash) table to the fixed
  // oracle path and DuckDB replays the banded Hamming join from those
  // exact bytes: band split ((h >> 16b) & 65535 — DuckDB's BIGINT >> is
  // arithmetic like Java's, the mask normalizes the fill), per-band
  // equi-join, distinct, xor + bit_count (verified identical to
  // Long.bitCount on negatives), threshold, sort. Decode itself stays
  // gated by ImageHashSpec's plain-Scala reference dHash + the golden
  // pins (unchanged across the PNM→mixed-PNG corpus switch — the
  // format-invariance proof) — the oracle makes the PAIR SEMANTICS
  // cross-engine-checked, the pins make the hashes trustworthy.
  // ---------------------------------------------------------------------

  private def dkBanded(name: String): String =
    s"""h AS (SELECT asset_id, dhash
       |  FROM read_parquet('${Similarity.annOracleRoot}/$name/hashes/*.parquet')),
       |b AS (SELECT asset_id, dhash, bb.band AS band,
       |    (dhash >> (bb.band * 16)) & 65535 AS v
       |  FROM h, (SELECT unnest(range(0, 4)) AS band) bb)"""
      .stripMargin

  /** Full-corpus pair oracle (q159/q164): a < b banded join, pair-level
    * distinct, Hamming ≤ 3. */
  private def dkPairSql(name: String): String =
    s"""WITH ${dkBanded(name)},
       |p AS (SELECT DISTINCT a.asset_id AS a1, b2.asset_id AS a2,
       |    a.dhash AS h1, b2.dhash AS h2
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
       |    AND a.asset_id < b2.asset_id)
       |SELECT a1, a2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS dist
       |FROM p WHERE bit_count(xor(h1, h2)) <= 3 ORDER BY a1, a2"""
      .stripMargin

  /** Video frame-pair oracle (q225/q229): banded frame join, pair-level
    * distinct, per-asset-pair count(DISTINCT f1) ≥ 2 — mirroring
    * [[videoNearDupPairs]] clause for clause. */
  private def dkVideoPairSql(name: String): String =
    s"""WITH f AS (SELECT asset_id, frame_index, dhash
       |  FROM read_parquet('${Similarity.annOracleRoot}/$name/frames/*.parquet')),
       |b AS (SELECT asset_id, frame_index, dhash, bb.band AS band,
       |    (dhash >> (bb.band * 16)) & 65535 AS v
       |  FROM f, (SELECT unnest(range(0, 4)) AS band) bb),
       |p AS (SELECT DISTINCT a.asset_id AS a1, b2.asset_id AS a2,
       |    a.frame_index AS f1, b2.frame_index AS f2,
       |    a.dhash AS h1, b2.dhash AS h2
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
       |    AND a.asset_id < b2.asset_id),
       |m AS (SELECT a1, a2, CAST(count(DISTINCT f1) AS BIGINT) AS n_match FROM p
       |  WHERE bit_count(xor(h1, h2)) <= 3 GROUP BY a1, a2)
       |SELECT a1, a2, n_match FROM m WHERE n_match >= 2 ORDER BY a1, a2"""
      .stripMargin

  /** Incremental oracle (q172): odd (new) × even (store) sides of the
    * SAME persisted table, (min, max)-normalized before the distinct —
    * mirroring [[incrementalNearDupPairs]] clause for clause. */
  private def dkIncrementalSql(name: String): String =
    s"""WITH ${dkBanded(name)},
       |p AS (SELECT DISTINCT
       |    least(a.asset_id, b2.asset_id) AS a1,
       |    greatest(a.asset_id, b2.asset_id) AS a2,
       |    CAST(bit_count(xor(a.dhash, b2.dhash)) AS BIGINT) AS dist
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
       |    AND a.asset_id != b2.asset_id
       |  WHERE a.asset_id % 2 = 1 AND b2.asset_id % 2 = 0)
       |SELECT a1, a2, dist FROM p WHERE dist <= 3 ORDER BY a1, a2"""
      .stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ---- perceptual-hash image near-dup: planted edited siblings over
    //      real decode of a MIXED P5+PNG corpus (each sibling pair is
    //      cross-format); banded Hamming join, exact at maxDist ≤ 3.
    //      ORACLE-CHECKED since r13 the artifact way: the hash table
    //      persists and DuckDB replays the entire pair pipeline from it
    //      (decode stays gated by the reference dHash + golden pins —
    //      see the replay block above). ----
    "q159_image_dhash_pairs" -> QueryDef.sql(dkPairSql("q159")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q159", "hashes",
        imageHashes(syntheticImages(Tables.documents(s, dir)))))
    },

    // ---- audio near-dup: energy-delta fingerprints over the real WAV
    //      decoder, same banded join; planted edited siblings.
    //      ORACLE-CHECKED since r13, same artifact replay. ----
    "q164_audio_fingerprint_pairs" -> QueryDef.sql(dkPairSql("q164")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q164", "hashes",
        audioEnergyHashes(syntheticWav(Tables.documents(s, dir)))))
    },

    // ---- incremental media dedup: the at-ingest shape — late-arriving
    //      edited siblings (odd asset ids) probe the stored original
    //      index (even ids); new × store only, never store × store.
    //      ImageHashSpec pins equivalence with the full-corpus face;
    //      Streams.mediaDedupSinkQuery is the streaming wrapper.
    //      ORACLE-CHECKED since r13: DuckDB replays the odd×even probe
    //      from the persisted hash table. ----
    "q172_media_dedup_incremental" -> QueryDef.sql(dkIncrementalSql("q172")) { (s, dir) =>
      val hashes = Similarity.persistArtifact("q172", "hashes",
          imageHashes(syntheticImages(Tables.documents(s, dir))))
        .localCheckpoint(eager = false) // consumers: store + batch sides
      incrementalNearDupPairs(
        hashes.filter(col("asset_id") % 2 === 1),
        hashes.filter(col("asset_id") % 2 === 0))
    },

    // ---- lossy-codec audio near-dup (r14): the same energy-window
    //      fingerprints + banded join, but the corpus routes through the
    //      NEW real decoders — G.711 μ-law, G.711 A-law, IMA ADPCM —
    //      with originals generated ON each codec's lattice so original
    //      (PCM WAV) and sibling (compressed container) decode to
    //      identical PCM outside the planted edit. Exact payload hashing
    //      cannot pair them (different containers, different bytes);
    //      decode can. ORACLE-CHECKED the artifact way from birth. ----
    "q226_audio_codec_pairs" -> QueryDef.sql(dkPairSql("q226")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q226", "hashes",
        audioEnergyHashes(syntheticCodecWav(Tables.documents(s, dir)))))
    },

    // ---- AIFF/AU near-dup (r16): the q164 banded pair join over a
    //      corpus whose ORIGINALS cycle the big-endian audio container
    //      family (plain AIFF PCM16-BE, AIFC `sowt` PCM16-LE, Sun AU
    //      behind an offset-honoring header) and whose planted edited
    //      siblings keep their FLAC containers — every recovered pair
    //      crosses an 80-bit-extended-rate AIFF walk or AU header walk
    //      on one side AND a real FLAC decode on the other. Lossless
    //      PCM trans-code ⇒ pair set bit-identical to q164's corpus.
    //      ORACLE-CHECKED from birth, same artifact replay. ----
    "q237_aiff_au_pairs" -> QueryDef.sql(dkPairSql("q237")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q237", "hashes",
        audioEnergyHashes(syntheticAiffAu(Tables.documents(s, dir)))))
    },

    // ---- PCM bit-depth near-dup (r16): the q164 banded pair join over
    //      a corpus whose ORIGINALS alternate 24-bit and float32 WAV
    //      carriers of the same 16-bit lattice PCM and whose planted
    //      edited siblings keep their FLAC containers — every recovered
    //      pair crosses a real depth conversion (top-16 narrowing or
    //      the exhaustively-proven float rescale) on one side and a
    //      FLAC decode on the other. Lossless by construction ⇒ pair
    //      set bit-identical to q164's corpus. ORACLE-CHECKED from
    //      birth, same artifact replay. ----
    "q238_pcm_depth_pairs" -> QueryDef.sql(dkPairSql("q238")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q238", "hashes",
        audioEnergyHashes(syntheticPcmDepth(Tables.documents(s, dir)))))
    },

    // ---- END-TO-END audio curation pipeline (q239, r16 — the audio
    //      member of the q230/q234 modality triple): ingest over a
    //      corpus cycling ALL SEVEN lossless audio carriers → near-dup
    //      gate (drop the higher asset of every ≤3-bit energy-hash
    //      pair) → loudness gate (rms_w ∈ [16384, 49152) drops the
    //      planted near-silent docs) → physical shard write with
    //      read-back counts; shard ids via the q121 hierarchical prefix
    //      sum, so read-back distinct shards = ceil(n/64) exactly.
    //      Oracle composes the q164 pair CTEs + the loudness predicate
    //      + the shard arithmetic verbatim from the persisted
    //      (asset_id, dhash, rms_w) artifact. ----
    "q239_audio_curation_pipeline" -> QueryDef.sql(
      s"""WITH h0 AS (SELECT asset_id, dhash, rms_w
         |  FROM read_parquet('${Similarity.annOracleRoot}/q239/hashes/*.parquet')),
         |b AS (SELECT asset_id, dhash, bb.band AS band,
         |    (dhash >> (bb.band * 16)) & 65535 AS v
         |  FROM h0, (SELECT unnest(range(0, 4)) AS band) bb),
         |p AS (SELECT DISTINCT a.asset_id AS a1, b2.asset_id AS a2,
         |    a.dhash AS h1, b2.dhash AS h2
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
         |    AND a.asset_id < b2.asset_id),
         |dup AS (SELECT DISTINCT a2 AS asset_id FROM p
         |  WHERE bit_count(xor(h1, h2)) <= 3),
         |s1 AS (SELECT h0.* FROM h0 LEFT JOIN dup USING (asset_id)
         |  WHERE dup.asset_id IS NULL),
         |s2 AS (SELECT * FROM s1 WHERE rms_w >= 16384 AND rms_w < 49152),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS na FROM s2)
         |SELECT stage, n_assets, n_shards FROM (
         |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_assets,
         |      CAST(0 AS BIGINT) AS n_shards FROM h0
         |  UNION ALL SELECT '1_audio_dedup', CAST(count(*) AS BIGINT),
         |      CAST(0 AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_quality_sample', na, CAST(0 AS BIGINT) FROM t
         |  UNION ALL SELECT '3_shards_written', na,
         |      CAST(ceil(na / 64.0) AS BIGINT) FROM t)
         |ORDER BY stage""".stripMargin) { (s, dir) =>
      audioCurationPipeline(Similarity.persistArtifact("q239", "hashes",
        audioHashStats(syntheticCurationAudio(Tables.documents(s, dir)))))
    },

    // ---- video near-dup via REAL payload decode (r14): MJPEG-in-MP4
    //      frames decode through the lib-free JPEG path, hash per frame,
    //      and videos pair when >= 2 frames match within Hamming 3.
    //      Planted siblings re-encode identical pixels under a different
    //      entropy profile (disjoint payload bytes, identical decode) —
    //      the case exact frame-sha sampling (q224) cannot pair.
    //      ORACLE-CHECKED from birth: the per-frame hash table persists
    //      and DuckDB replays banding, frame pairing, and the per-video
    //      aggregation from those exact bytes. ----
    "q225_video_frame_dedup" -> QueryDef.sql(dkVideoPairSql("q225")) { (s, dir) =>
      videoNearDupPairs(Similarity.persistArtifact("q225", "frames",
        videoFrameHashes(syntheticMjpeg(Tables.documents(s, dir)))))
    },

    // ---- scene-cut detection (r14): shot boundaries from the
    //      consecutive-frame hash jump over REAL MJPEG payload decode —
    //      scene-structured corpus with a deterministic within-scene
    //      distance ceiling (≤8 bits) far below the threshold (16).
    //      ORACLE-CHECKED from birth: DuckDB replays lag/xor/bit_count
    //      from the persisted per-frame hash table. ----
    "q227_scene_cuts" -> QueryDef.sql(
      s"""WITH f AS (SELECT asset_id, frame_index, dhash
         |  FROM read_parquet('${Similarity.annOracleRoot}/q227/frames/*.parquet')),
         |d AS (SELECT asset_id, frame_index,
         |    CAST(bit_count(xor(dhash, lag(dhash) OVER
         |      (PARTITION BY asset_id ORDER BY frame_index))) AS BIGINT) AS dist
         |  FROM f)
         |SELECT asset_id, frame_index, dist FROM d
         |WHERE dist IS NOT NULL AND dist >= 16
         |ORDER BY asset_id, frame_index""".stripMargin) { (s, dir) =>
      sceneCuts(Similarity.persistArtifact("q227", "frames",
        videoFrameHashes(syntheticScenes(Tables.documents(s, dir)))))
    },

    // ---- GIF↔PNG still-image near-dup (r15): the q159 banded pair
    //      join over a corpus whose ORIGINALS are real GIFs (both
    //      encoder profiles — half interlaced with a reversed local
    //      palette) and whose planted edited siblings are PNG, so every
    //      recovered pair crosses a real LZW decode. Lossless gray
    //      trans-code ⇒ the pair set is bit-identical to q159's corpus
    //      design. ORACLE-CHECKED from birth, same artifact replay. ----
    "q228_gif_png_dedup_pairs" -> QueryDef.sql(dkPairSql("q228")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q228", "hashes",
        imageHashes(syntheticGifImages(Tables.documents(s, dir)))))
    },

    // ---- interlaced/16-bit PNG near-dup (r16): the q159 banded pair
    //      join over a corpus whose ORIGINALS are Adam7-interlaced
    //      and/or 16-bit-depth PNGs (the three new encoder profiles,
    //      cycling) and whose planted edited siblings are sequential
    //      8-bit PNG — every recovered pair crosses a real de-interlace
    //      / 16-bit decode. Lossless gray trans-code ⇒ pair set
    //      bit-identical to q159's corpus design. ORACLE-CHECKED from
    //      birth, same artifact replay. ----
    "q231_png_interlace_dedup_pairs" -> QueryDef.sql(dkPairSql("q231")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q231", "hashes",
        imageHashes(syntheticInterlacedPng(Tables.documents(s, dir)))))
    },

    // ---- BMP near-dup (r16): the q159 banded pair join over a corpus
    //      whose ORIGINALS are real Windows bitmaps (24-bit BI_RGB and
    //      8-bit BI_RLE8 reversed-palette, alternating) and whose
    //      planted edited siblings are sequential PNG — every recovered
    //      pair crosses a real BMP decode (incl. run-length). Lossless
    //      gray trans-code ⇒ pair set bit-identical to q159's corpus
    //      design. ORACLE-CHECKED from birth, same artifact replay. ----
    "q232_bmp_dedup_pairs" -> QueryDef.sql(dkPairSql("q232")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q232", "hashes",
        imageHashes(syntheticBmpImages(Tables.documents(s, dir)))))
    },

    // ---- TIFF near-dup (r16): the q159 banded pair join over a corpus
    //      whose ORIGINALS are real baseline TIFFs (little-endian
    //      uncompressed and big-endian PackBits WhiteIsZero,
    //      alternating) and whose planted edited siblings are
    //      sequential PNG — every recovered pair crosses a real TIFF
    //      decode (incl. byte order + run-length + photometric
    //      inversion). Lossless gray trans-code ⇒ pair set
    //      bit-identical to q159's corpus design. ORACLE-CHECKED from
    //      birth, same artifact replay. ----
    "q233_tiff_dedup_pairs" -> QueryDef.sql(dkPairSql("q233")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q233", "hashes",
        imageHashes(syntheticTiffImages(Tables.documents(s, dir)))))
    },

    // ---- TGA near-dup (r16): the q159 banded pair join over a corpus
    //      whose ORIGINALS are real Truevision TGAs (uncompressed gray
    //      and RLE color-mapped reversed-palette top-down, alternating)
    //      and whose planted edited siblings are sequential PNG — every
    //      recovered pair crosses a real TGA decode (incl. run-length,
    //      palette resolve, image-ID skip) through the STRICT
    //      magic-less header walk. Lossless gray trans-code ⇒ pair set
    //      bit-identical to q159's corpus design. ORACLE-CHECKED from
    //      birth, same artifact replay. ----
    "q235_tga_dedup_pairs" -> QueryDef.sql(dkPairSql("q235")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q235", "hashes",
        imageHashes(syntheticTgaImages(Tables.documents(s, dir)))))
    },

    // ---- ICO near-dup (r16): the q159 banded pair join over a corpus
    //      whose ORIGINALS are real Windows icons (PNG-payload and
    //      BMP-DIB-payload entries, alternating) and whose planted
    //      edited siblings are sequential PNG — every recovered pair
    //      crosses a real icon-directory walk plus either an embedded
    //      PNG decode or a doubled-height DIB + AND-mask decode.
    //      Lossless gray trans-code ⇒ pair set bit-identical to q159's
    //      corpus design. ORACLE-CHECKED from birth, same artifact
    //      replay. ----
    "q236_ico_dedup_pairs" -> QueryDef.sql(dkPairSql("q236")) { (s, dir) =>
      nearDupImagePairs(Similarity.persistArtifact("q236", "hashes",
        imageHashes(syntheticIcoImages(Tables.documents(s, dir)))))
    },

    // ---- END-TO-END still-image curation pipeline (q234, r16 — the
    //      stills twin of q230, closing the r15 NEXT carry-forward):
    //      ingest over a corpus cycling ALL FIVE lossless containers
    //      (P5/GIF/BMP-RLE8/TIFF-PackBits/Adam7-PNG) → near-dup gate
    //      (drop the higher asset of every ≤3-bit pair) → quality gate
    //      (mean_luma ∈ [64,192) drops the planted darkened docs) →
    //      physical shard write with read-back counts; shard ids via
    //      the q121 hierarchical prefix sum, so read-back distinct
    //      shards = ceil(n/64) exactly. Oracle composes the q159 pair
    //      CTEs + the quality predicate + the shard arithmetic verbatim
    //      from the persisted (asset_id, dhash, mean_luma) artifact. ----
    "q234_image_curation_pipeline" -> QueryDef.sql(
      s"""WITH h0 AS (SELECT asset_id, dhash, mean_luma
         |  FROM read_parquet('${Similarity.annOracleRoot}/q234/hashes/*.parquet')),
         |b AS (SELECT asset_id, dhash, bb.band AS band,
         |    (dhash >> (bb.band * 16)) & 65535 AS v
         |  FROM h0, (SELECT unnest(range(0, 4)) AS band) bb),
         |p AS (SELECT DISTINCT a.asset_id AS a1, b2.asset_id AS a2,
         |    a.dhash AS h1, b2.dhash AS h2
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
         |    AND a.asset_id < b2.asset_id),
         |dup AS (SELECT DISTINCT a2 AS asset_id FROM p
         |  WHERE bit_count(xor(h1, h2)) <= 3),
         |s1 AS (SELECT h0.* FROM h0 LEFT JOIN dup USING (asset_id)
         |  WHERE dup.asset_id IS NULL),
         |s2 AS (SELECT * FROM s1 WHERE mean_luma >= 64 AND mean_luma < 192),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS na FROM s2)
         |SELECT stage, n_assets, n_shards FROM (
         |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_assets,
         |      CAST(0 AS BIGINT) AS n_shards FROM h0
         |  UNION ALL SELECT '1_image_dedup', CAST(count(*) AS BIGINT),
         |      CAST(0 AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_quality_sample', na, CAST(0 AS BIGINT) FROM t
         |  UNION ALL SELECT '3_shards_written', na,
         |      CAST(ceil(na / 64.0) AS BIGINT) FROM t)
         |ORDER BY stage""".stripMargin) { (s, dir) =>
      imageCurationPipeline(Similarity.persistArtifact("q234", "hashes",
        imageHashStats(syntheticCurationStills(Tables.documents(s, dir)))))
    },

    // ---- animated-GIF video near-dup (r15): the q225 machinery on the
    //      other lib-free video container — full-canvas composited
    //      frames from real LZW + disposal/transparency compositing,
    //      banded frame join, count(DISTINCT f1) per asset pair. GIF is
    //      lossless, so unedited sibling frames land at Hamming 0
    //      through byte-disjoint containers (reversed-palette index
    //      planes). ORACLE-CHECKED from birth, same per-frame artifact
    //      replay as q225. ----
    "q229_animated_gif_frame_dedup" -> QueryDef.sql(dkVideoPairSql("q229")) { (s, dir) =>
      videoNearDupPairs(Similarity.persistArtifact("q229", "frames",
        videoFrameHashes(syntheticAnimatedGif(Tables.documents(s, dir)))))
    },

    // ---- END-TO-END video curation pipeline (r15, VERDICT r14 #6):
    //      ingest → video near-dup gate (q225 CTEs) → scene-cut frame
    //      sampling (q227 lag window) → physical shard write with
    //      read-back counts. The oracle composes the component faces'
    //      committed SQL verbatim from ONE persisted frame table (the
    //      q223/q158 composition pattern) and cross-checks the shard
    //      stage arithmetically: contiguous global positions make the
    //      written distinct-shard count equal ceil(n/64) exactly. ----
    "q230_video_curation_pipeline" -> QueryDef.sql(
      s"""WITH f AS (SELECT asset_id, frame_index, dhash
         |  FROM read_parquet('${Similarity.annOracleRoot}/q230/frames/*.parquet')),
         |b AS (SELECT asset_id, frame_index, dhash, bb.band AS band,
         |    (dhash >> (bb.band * 16)) & 65535 AS v
         |  FROM f, (SELECT unnest(range(0, 4)) AS band) bb),
         |p AS (SELECT DISTINCT a.asset_id AS a1, b2.asset_id AS a2,
         |    a.frame_index AS f1, b2.frame_index AS f2,
         |    a.dhash AS h1, b2.dhash AS h2
         |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
         |    AND a.asset_id < b2.asset_id),
         |m AS (SELECT a1, a2, CAST(count(DISTINCT f1) AS BIGINT) AS n_match FROM p
         |  WHERE bit_count(xor(h1, h2)) <= 3 GROUP BY a1, a2),
         |dup AS (SELECT DISTINCT a2 AS asset_id FROM m WHERE n_match >= 2),
         |s1 AS (SELECT f.* FROM f LEFT JOIN dup USING (asset_id)
         |  WHERE dup.asset_id IS NULL),
         |d AS (SELECT asset_id, frame_index,
         |    CAST(bit_count(xor(dhash, lag(dhash) OVER
         |      (PARTITION BY asset_id ORDER BY frame_index))) AS BIGINT) AS dist
         |  FROM s1),
         |s2 AS (SELECT asset_id, frame_index FROM d
         |  WHERE dist IS NULL OR dist >= 16),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS nf,
         |    CAST(count(DISTINCT asset_id) AS BIGINT) AS na FROM s2)
         |SELECT stage, n_assets, n_frames, n_shards FROM (
         |  SELECT '0_raw' AS stage,
         |      CAST(count(DISTINCT asset_id) AS BIGINT) AS n_assets,
         |      CAST(count(*) AS BIGINT) AS n_frames,
         |      CAST(0 AS BIGINT) AS n_shards FROM f
         |  UNION ALL SELECT '1_video_dedup',
         |      CAST(count(DISTINCT asset_id) AS BIGINT),
         |      CAST(count(*) AS BIGINT), CAST(0 AS BIGINT) FROM s1
         |  UNION ALL SELECT '2_scene_sample', na, nf, CAST(0 AS BIGINT) FROM t
         |  UNION ALL SELECT '3_shards_written', na, nf,
         |      CAST(ceil(nf / 64.0) AS BIGINT) FROM t)
         |ORDER BY stage""".stripMargin) { (s, dir) =>
      videoCurationPipeline(Similarity.persistArtifact("q230", "frames",
        videoFrameHashes(syntheticSceneSiblings(Tables.documents(s, dir)))))
    })
}
