package graft

import java.sql.Timestamp
import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long, typ: String, v: Double = 1.0) =
    Event(id, ts(t), user, typ, v, "{}")

  test("dropDuplicatesWithinWatermark keeps one row per key") {
    val input = MemoryStream[Event](spark)
    val out = Streams.dedupWithinWatermark(input.toDF(), overlap = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click"),
        ev(2, "2024-01-01 10:05:00", 1, "click"), // dup key within watermark
        ev(3, "2024-01-01 10:10:00", 2, "view"))
      q.processAllAvailable()
      input.addData(
        ev(4, "2024-01-01 10:20:00", 1, "click")) // still dup
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("user_id", "event_type").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "click"), (2L, "view")))
    } finally q.stop()
  }

  test("tumbling window counts advance with the watermark and drop late data") {
    val input = MemoryStream[Event](spark)
    val out = Streams.tumblingCounts(input.toDF(), width = "1 hour", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:10:00", 1, "click"),
        ev(2, "2024-01-01 10:20:00", 2, "click"),
        ev(3, "2024-01-01 10:40:00", 3, "view"))
      q.processAllAvailable()
      // advance event time far enough to close the 10:00 window
      input.addData(ev(4, "2024-01-01 13:00:00", 4, "click"))
      q.processAllAvailable()
      // this event is behind the watermark → dropped
      input.addData(ev(5, "2024-01-01 10:30:00", 5, "click"))
      q.processAllAvailable()
      input.addData(ev(6, "2024-01-01 15:00:00", 6, "click"))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("window_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect()
      val tenOclock = rows.filter(_._1 == ts("2024-01-01 10:00:00")).map(r => r._2 -> r._3).toMap
      assert(tenOclock == Map("click" -> 2L, "view" -> 1L),
        s"late event must not inflate the closed window: $rows")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user session state") {
    val input = MemoryStream[Event](spark)
    val out = Streams.userSessions(input.toDS())
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 2.0),
        ev(2, "2024-01-01 10:01:00", 1, "click", 3.0),
        ev(3, "2024-01-01 10:02:00", 2, "view", 5.0))
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 10:03:00", 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("user_id", "n_events", "total_value", "closed")
        .as[(Long, Long, Double, Boolean)].collect()
      val latestU1 = rows.filter(_._1 == 1L).maxBy(_._2)
      assert(latestU1 == ((1L, 3L, 6.0, false)), s"state accumulates: ${rows.toSeq}")
      assert(rows.filter(_._1 == 2L).map(_._3).contains(5.0))
    } finally q.stop()
  }

  test("streaming parquet source reads the events table shape") {
    val out = java.nio.file.Files.createTempDirectory("evparquet").toString
    Tables.events(spark, sf001).limit(100).write.mode("overwrite").parquet(out)
    val stream = Streams.readEventsStream(spark, out)
    assert(stream.isStreaming)
    val q = Streams.tumblingCounts(stream, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("file_stream_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // append mode emits only watermark-closed windows; the point here is
    // that the file source + event-time pipeline runs end to end
    assert(spark.table("file_stream_out").schema.fieldNames.contains("window_start"))
  }

  test("tumbling and sliding streaming faces run green directly against the " +
      "µs-typed testdata source and agree with the batch aggregation") {
    // r9 regression class: the driver's events.parquet is now timestamp[us];
    // the STREAMING read path must normalize ts exactly like Tables.events.
    // The file-stream source needs a DIRECTORY, so byte-copy the real file
    // into one — raw copy, no Spark rewrite, same physical encoding.
    val dir = java.nio.file.Files.createTempDirectory("evus").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = Streams.readEventsStream(spark, dir)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val qT = Streams.tumblingCounts(stream, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("evus_tumbling")
      .outputMode("append").start()
    try qT.processAllAvailable() finally qT.stop()
    val qS = Streams.slidingCounts(Streams.readEventsStream(spark, dir),
        "1 hour", "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("evus_sliding")
      .outputMode("append").start()
    try qS.processAllAvailable() finally qS.stop()

    // append mode emits watermark-closed windows; every emitted row must
    // match the batch face exactly (subset because the tail windows past
    // the final watermark never close)
    val batch = Tables.events(spark, sf001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val streamed = spark.table("evus_tumbling")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    assert(streamed.nonEmpty, "no tumbling windows closed")
    streamed.foreach { case (ws, et, n) =>
      assert(batch.get((ws, et)).contains(n),
        s"streamed window ($ws, $et, $n) disagrees with batch ${batch.get((ws, et))}")
    }
    assert(spark.table("evus_sliding").count() > 0, "no sliding windows closed")
  }

  test("session_window groups events separated by less than the gap") {
    val input = MemoryStream[Event](spark)
    val out = Streams.sessionWindowCounts(input.toDF(), gap = "10 minutes",
      watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sessw_out")
      .outputMode("append").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "click", 2.0), // same session
        ev(3, "2024-01-01 10:30:00", 1, "click", 4.0)) // gap > 10m → new session
      q.processAllAvailable()
      input.addData(ev(4, "2024-01-01 12:00:00", 9, "view", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sessw_out")
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().filter(_._1 == 1L).sortBy(_._2)
      assert(rows.toSeq == Seq((1L, 1L, 4.0), (1L, 2L, 3.0)),
        s"two sessions: [e1,e2] and [e3]: ${rows.toSeq}")
    } finally q.stop()
  }

  test("foreachBatch incremental sink dedupes across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("incsink").toString
    val input = MemoryStream[Event](spark)
    val q = Streams.incrementalSinkQuery(input.toDF(), dir,
      keyCols = Seq("event_id")).start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click"),
        ev(2, "2024-01-01 10:05:00", 2, "view"))
      q.processAllAvailable()
      input.addData(
        ev(2, "2024-01-01 10:05:00", 2, "view"), // replay of event 2
        ev(3, "2024-01-01 10:10:00", 3, "click"))
      q.processAllAvailable()
      val landed = graft.streaming.WatermarkSync.stored(spark, dir).get
      assert(landed.count() == 3, "replayed event must not duplicate")
      assert(landed.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming near-dup sink flags cross-batch dups against the growing signature store") {
    val sigDir = java.nio.file.Files.createTempDirectory("ndsig").toString + "/sigs"
    val pairsDir = java.nio.file.Files.createTempDirectory("ndpairs").toString + "/pairs"
    val base = "spark runs distributed queries over very large datasets " +
      "with columnar storage and adaptive execution planning across many " +
      "worker nodes while caching hot partitions in memory"
    val other = "data pipelines ingest clean filter join aggregate and write " +
      "results downstream every day with checkpoint recovery watermark " +
      "tracking and exactly once delivery into warehouse tables"
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.nearDupSinkQuery(
      input.toDF().toDF("doc_id", "text"), sigDir, pairsDir).start()
    try {
      // batch 1: 0/1 identical (within-batch pair), 2 unrelated
      input.addData((0L, base), (1L, base), (2L, other))
      q.processAllAvailable()
      val after1 = spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(after1 == Set((0L, 1L)), s"batch-1 pairs: $after1")
      // batch 2: 10 duplicates doc 2 (CROSS-batch — only visible via the
      // persisted store), 11 replays doc 1 (already indexed), 12 fresh
      input.addData((10L, other), (11L, base), (12L, "tiny doc here"))
      q.processAllAvailable()
      val pairs = spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((0L, 1L), (2L, 10L), (0L, 11L), (1L, 11L)),
        s"cross-batch pairs wrong: $pairs")
      // signature store: one row per distinct doc (11 re-appended nothing
      // for 1 — it is a NEW doc id, so it indexes; replay semantics are
      // keyed on doc_id)
      val sigs = spark.read.parquet(sigDir).select("doc_id").as[Long].collect().sorted
      assert(sigs.toSeq == Seq(0L, 1L, 2L, 10L, 11L, 12L), s"store: ${sigs.toSeq}")
      // true replay: re-send doc 2 verbatim — same doc_id, so neither the
      // store nor the pair log may grow (idempotent landing)
      input.addData((2L, other))
      q.processAllAvailable()
      assert(spark.read.parquet(sigDir).count() == 6, "replay must not re-index")
      assert(spark.read.parquet(pairsDir).select("d1", "d2")
        .as[(Long, Long)].collect().toSet == pairs, "replay must not re-emit pairs")
    } finally q.stop()
  }

  test("q223 streaming twin: scrambled-order ingest + publish equals the batch pipeline report") {
    val root = java.nio.file.Files.createTempDirectory("q223twin").toString
    val (docsDir, sigDir, pairsDir) = (s"$root/docs", s"$root/sigs", s"$root/pairs")
    val sfDir = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect()
    val weights = graft.operators.Classifier.ensureWeights(spark, sfDir)
    val input = MemoryStream[(Long, String, String)](spark)
    val q = Streams.curationIngestSinkQuery(
      input.toDF().toDF("doc_id", "text", "source"),
      docsDir, sigDir, pairsDir).start()
    try {
      // three batches SCRAMBLED by doc_id % 3 — a pair's members can land
      // in any order; the pair log must still converge to the full q52 set
      (0 until 3).foreach { k =>
        input.addData(corpus.filter(_._1 % 3 == k).toSeq)
        q.processAllAvailable()
      }
      // replay a slice verbatim: nothing may change
      input.addData(corpus.filter(_._1 % 3 == 0).take(20).toSeq)
      q.processAllAvailable()
      val streamed = Streams.publishCurationSnapshot(spark, docsDir, pairsDir,
          weights, shardDir = Some(s"$root/shards"))
        .select("stage", "n_docs", "n_tokens")
        .as[(String, Long, Long)].collect().sortBy(_._1)
      val batch = graft.operators.Curation.curationPipeline(
          Tables.documents(spark, sfDir), weights,
          shardDir = Some(s"$root/shards_batch"))
        .select("stage", "n_docs", "n_tokens")
        .as[(String, Long, Long)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq,
        s"twin drift:\nstreamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
      assert(batch.head == ("0_raw", 500L, 27939L), "corpus stage-0 sanity")
    } finally q.stop()
  }

  test("q230 streaming twin: scrambled-order video ingest + publish equals the batch report") {
    import graft.operators.{ImageHash, Multimodal}
    import graft.operators.Multimodal.MediaAsset
    val root = java.nio.file.Files.createTempDirectory("q230twin").toString
    val (framesDir, pairsDir) = (s"$root/frames", s"$root/pairs")
    val sfDir = "/root/testdata/sf0.001"
    val corpus = ImageHash.syntheticSceneSiblings(
      Tables.documents(spark, sfDir)).collect()
    val input = MemoryStream[MediaAsset](spark)
    val q = Streams.videoIngestSinkQuery(input.toDF(), framesDir, pairsDir).start()
    try {
      // three batches SCRAMBLED by asset_id % 3: an original (even id)
      // and its sibling (odd id) always land in DIFFERENT batches, so
      // every planted pair crosses the incremental store path
      (0 until 3).foreach { k =>
        input.addData(corpus.filter(_.asset_id % 3 == k).toSeq)
        q.processAllAvailable()
      }
      // replay a slice verbatim: nothing may change
      input.addData(corpus.filter(_.asset_id % 3 == 0).take(20).toSeq)
      q.processAllAvailable()
      val streamed = Streams.publishVideoCurationSnapshot(spark, framesDir,
          pairsDir, shardDir = Some(s"$root/shards"))
        .as[(String, Long, Long, Long)].collect().sortBy(_._1)
      val batch = ImageHash.videoCurationPipeline(
          ImageHash.videoFrameHashes(ImageHash.syntheticSceneSiblings(
            Tables.documents(spark, sfDir))),
          shardDir = Some(s"$root/shards_batch"))
        .as[(String, Long, Long, Long)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq,
        s"twin drift:\nstreamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
      // the drop set really accumulated cross-batch: every planted
      // sibling (id*2+1 for doc_id % 10 == 0) is in the pair log as a2
      val logged = spark.read.parquet(pairsDir)
        .select("a2").as[Long].collect().toSet
      val planted = corpus.map(_.asset_id).filter(id =>
        id % 2 == 1 && (id / 2) % 10 == 0).toSet
      assert(planted.subsetOf(logged), s"missing pairs: ${planted -- logged}")
    } finally q.stop()
  }

  test("q234 streaming twin: scrambled-order image ingest + publish equals the batch report") {
    import graft.operators.ImageHash
    import graft.operators.Multimodal.MediaAsset
    val root = java.nio.file.Files.createTempDirectory("q234twin").toString
    val (statsDir, pairsDir) = (s"$root/stats", s"$root/pairs")
    val sfDir = "/root/testdata/sf0.001"
    val corpus = ImageHash.syntheticCurationStills(
      Tables.documents(spark, sfDir)).collect()
    val input = MemoryStream[MediaAsset](spark)
    val q = Streams.imageIngestSinkQuery(input.toDF(), statsDir, pairsDir).start()
    try {
      // three batches SCRAMBLED by asset_id % 3: an original (even id)
      // and its sibling (odd id) always land in DIFFERENT batches, so
      // every planted pair crosses the incremental store path
      (0 until 3).foreach { k =>
        input.addData(corpus.filter(_.asset_id % 3 == k).toSeq)
        q.processAllAvailable()
      }
      // replay a slice verbatim: nothing may change
      input.addData(corpus.filter(_.asset_id % 3 == 0).take(20).toSeq)
      q.processAllAvailable()
      val streamed = Streams.publishImageCurationSnapshot(spark, statsDir,
          pairsDir, shardDir = Some(s"$root/shards"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      val batch = ImageHash.imageCurationPipeline(
          ImageHash.imageHashStats(ImageHash.syntheticCurationStills(
            Tables.documents(spark, sfDir))),
          shardDir = Some(s"$root/shards_batch"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq,
        s"twin drift:\nstreamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
      // the pair log converged to the FULL-corpus q159 pair set despite
      // every pair's members arriving in different batches (and a replay)
      val logged = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      val full = ImageHash.nearDupImagePairs(
          spark.read.parquet(statsDir).select("asset_id", "dhash"))
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(logged == full,
        s"log drift: extra=${logged -- full} missing=${full -- logged}")
      assert(full.nonEmpty, "sf0.001 must plant at least one recoverable pair")
    } finally q.stop()
  }

  test("q239 streaming twin: scrambled-order audio ingest + publish equals the batch report") {
    import graft.operators.ImageHash
    import graft.operators.Multimodal.MediaAsset
    val root = java.nio.file.Files.createTempDirectory("q239twin").toString
    val (statsDir, pairsDir) = (s"$root/stats", s"$root/pairs")
    val sfDir = "/root/testdata/sf0.001"
    val corpus = ImageHash.syntheticCurationAudio(
      Tables.documents(spark, sfDir)).collect()
    val input = MemoryStream[MediaAsset](spark)
    val q = Streams.audioIngestSinkQuery(input.toDF(), statsDir, pairsDir).start()
    try {
      // scrambled by asset_id % 3: original and sibling always land in
      // DIFFERENT batches, so every planted pair crosses the store path
      (0 until 3).foreach { k =>
        input.addData(corpus.filter(_.asset_id % 3 == k).toSeq)
        q.processAllAvailable()
      }
      // replay a slice verbatim: nothing may change
      input.addData(corpus.filter(_.asset_id % 3 == 0).take(20).toSeq)
      q.processAllAvailable()
      val streamed = Streams.publishAudioCurationSnapshot(spark, statsDir,
          pairsDir, shardDir = Some(s"$root/shards"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      val batch = ImageHash.audioCurationPipeline(
          ImageHash.audioHashStats(ImageHash.syntheticCurationAudio(
            Tables.documents(spark, sfDir))),
          shardDir = Some(s"$root/shards_batch"))
        .as[(String, Long, Long)].collect().sortBy(_._1)
      assert(streamed.toSeq == batch.toSeq,
        s"twin drift:\nstreamed=${streamed.toSeq}\nbatch=${batch.toSeq}")
      val logged = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      val full = ImageHash.nearDupImagePairs(
          spark.read.parquet(statsDir).select("asset_id", "dhash"))
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(logged == full,
        s"log drift: extra=${logged -- full} missing=${full -- logged}")
      assert(full.nonEmpty, "sf0.001 must plant at least one recoverable pair")
    } finally q.stop()
  }

  test("q188 lateness: planted disorder counts per rung; tiny buckets exercise the hierarchy") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    // arrival (event_id) order with event times: 100, 200, 150 (late 50 s),
    // 300, 50 (late 250 s), 400 — bucketSize=2 forces the cross-bucket
    // prior max through the bucket-offset table
    val ev = Seq(
      (1L, ts(100)), (2L, ts(200)), (3L, ts(150)),
      (4L, ts(300)), (5L, ts(50)), (6L, ts(400)))
      .toDF("event_id", "ts")
    val got = Streams.watermarkLatenessAudit(ev,
        ladderSec = Seq(0L, 10L, 60L, 600L), bucketSize = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq(
      (0L, 2L, 0.333333),   // both out-of-order events
      (10L, 2L, 0.333333),
      (60L, 1L, 0.166667),  // only the 250 s straggler
      (600L, 0L, 0.0)))
  }

  test("media dedup sink: cross-batch image near-dups flagged, replays idempotent") {
    import graft.operators.Multimodal.MediaAsset
    val root = java.nio.file.Files.createTempDirectory("mediadedup").toString
    val (hashDir, pairsDir) = (s"$root/hashes", s"$root/pairs")
    def p5(px: Array[Int]): Array[Byte] =
      ("P5 18 16 255\n".getBytes("US-ASCII").toSeq ++ px.map(_.toByte)).toArray
    val rnd = new scala.util.Random(23)
    val img = Array.fill(18 * 16)(rnd.nextInt(256))
    val edited = img.clone()
    for (y <- 0 until 2; x <- 0 until 2) edited(y * 18 + x) = 255
    val inverted = img.map(255 - _)
    val fresh = Array.fill(18 * 16)(rnd.nextInt(256))
    val input = MemoryStream[MediaAsset](spark)
    val q = Streams.mediaDedupSinkQuery(input.toDF(), hashDir, pairsDir).start()
    try {
      // batch 1: original + edited sibling (within-batch pair) + inverted
      input.addData(
        MediaAsset(1L, "image/x-portable-graymap", p5(img)),
        MediaAsset(2L, "image/x-portable-graymap", p5(edited)),
        MediaAsset(3L, "image/x-portable-graymap", p5(inverted)))
      q.processAllAvailable()
      val after1 = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(after1 == Set((1L, 2L)), s"batch-1 pairs: $after1")
      // batch 2: 10 is an EXACT re-encode of 1 (cross-batch, must match
      // both 1 and its sibling 2 via the persisted store), 11 is fresh
      input.addData(
        MediaAsset(10L, "image/x-portable-graymap", p5(img)),
        MediaAsset(11L, "image/x-portable-graymap", p5(fresh)))
      q.processAllAvailable()
      val pairs = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L), (1L, 10L), (2L, 10L)),
        s"cross-batch pairs wrong: $pairs")
      val ids = spark.read.parquet(hashDir).select("asset_id").as[Long]
        .collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 10L, 11L), s"hash store: $ids")
      // replay: resend asset 10 — neither store may grow
      input.addData(MediaAsset(10L, "image/x-portable-graymap", p5(img)))
      q.processAllAvailable()
      assert(spark.read.parquet(hashDir).count() == 5, "replay must not re-index")
      assert(spark.read.parquet(pairsDir).select("a1", "a2")
        .as[(Long, Long)].collect().toSet == pairs, "replay must not re-emit pairs")
      // one fresh asset delivered twice inside ONE micro-batch lands once
      val twice = MediaAsset(12L, "image/x-portable-graymap",
        p5(Array.fill(18 * 16)(rnd.nextInt(256))))
      input.addData(twice, twice)
      q.processAllAvailable()
      assert(spark.read.parquet(hashDir).count() == 6,
        "an in-batch duplicate must land one hash row")
    } finally q.stop()
  }

  test("audio dedup sink: cross-batch cross-CONTAINER near-dups flagged, replays idempotent") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaAsset
    val root = java.nio.file.Files.createTempDirectory("audiodedup").toString
    val (hashDir, pairsDir) = (s"$root/hashes", s"$root/pairs")
    val rnd = new scala.util.Random(29)
    def pcm(seed: Int): Array[Short] = {
      val r = new scala.util.Random(seed)
      Array.fill(144)((r.nextInt(65536) - 32768).toShort)
    }
    val a = pcm(1); val b = pcm(2); val c = pcm(3)
    val edited = a.clone() // tail-window edit: hash moves ≤ a few bits
    for (i <- 140 until 144) edited(i) = (rnd.nextInt(65536) - 32768).toShort
    def wav(p: Array[Short]) = Multimodal.pcmWavBytes(16000, 1, p)
    val input = MemoryStream[MediaAsset](spark)
    val q = Streams.audioDedupSinkQuery(input.toDF(), hashDir, pairsDir).start()
    try {
      // batch 1: WAV original + its AIFF-contained edited sibling
      // (within-batch, cross-container) + an unrelated WAV
      input.addData(
        MediaAsset(1L, "audio/wav", wav(a)),
        MediaAsset(2L, "audio/aiff",
          Multimodal.AiffCodec.transcodeFromWav(wav(edited), 0).get),
        MediaAsset(3L, "audio/wav", wav(b)))
      q.processAllAvailable()
      val after1 = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(after1 == Set((1L, 2L)), s"batch-1 pairs: $after1")
      // batch 2: 10 carries asset 1's EXACT PCM inside an AU container
      // (cross-batch AND cross-container — hash distance 0 through the
      // persisted store), 11 is fresh
      input.addData(
        MediaAsset(10L, "audio/basic", Multimodal.AuCodec.transcodeFromWav(wav(a)).get),
        MediaAsset(11L, "audio/wav", wav(c)))
      q.processAllAvailable()
      val pairs = spark.read.parquet(pairsDir)
        .select("a1", "a2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L), (1L, 10L), (2L, 10L)),
        s"cross-batch pairs wrong: $pairs")
      val ids = spark.read.parquet(hashDir).select("asset_id").as[Long]
        .collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L, 10L, 11L), s"hash store: $ids")
      // replay: resend asset 10 — neither store may grow
      input.addData(
        MediaAsset(10L, "audio/basic", Multimodal.AuCodec.transcodeFromWav(wav(a)).get))
      q.processAllAvailable()
      assert(spark.read.parquet(hashDir).count() == 5, "replay must not re-index")
      assert(spark.read.parquet(pairsDir).select("a1", "a2")
        .as[(Long, Long)].collect().toSet == pairs, "replay must not re-emit pairs")
    } finally q.stop()
  }

  test("compacted near-dup stores: fewer files, identical flags, sink keeps working") {
    val root = java.nio.file.Files.createTempDirectory("ndcompact").toString
    val (sigDir, pairsDir) = (s"$root/sigs", s"$root/pairs")
    val base = "spark runs distributed queries over very large datasets " +
      "with columnar storage and adaptive execution planning across many " +
      "worker nodes while caching hot partitions in memory"
    val other = "data pipelines ingest clean filter join aggregate and write " +
      "results downstream every day with checkpoint recovery watermark " +
      "tracking and exactly once delivery into warehouse tables"
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.nearDupSinkQuery(
      input.toDF().toDF("doc_id", "text"), sigDir, pairsDir).start()
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    try {
      // several micro-batches fragment both stores (one+ file per batch)
      input.addData((0L, base), (1L, base)); q.processAllAvailable()
      input.addData((2L, other), (3L, other)); q.processAllAvailable()
      input.addData((4L, base + " extra"), (5L, "unrelated tiny doc")); q.processAllAvailable()
      val sigsBefore = spark.read.parquet(sigDir)
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      val pairsBefore = spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      val (sb, sa) = Streams.compactNearDupStore(spark, sigDir)
      val (pb, pa) = Streams.compactNearDupStore(spark, pairsDir)
      assert(files(sigDir) == sa && files(pairsDir) == pa,
        "reported file counts must match the directory")
      assert(sa < sb && pa < pb, s"compaction must shrink: sigs $sb->$sa pairs $pb->$pa")
      assert(sa == 1 && pa == 1, s"rows fit one file: $sa / $pa")
      assert(spark.read.parquet(sigDir)
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq == sigsBefore,
        "compaction must not change a signature")
      assert(spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet == pairsBefore,
        "compaction must not change the pair log")
      // the sink keeps flagging cross-batch dups against the compacted store
      input.addData((10L, base)); q.processAllAvailable()
      val after = spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(after.contains((0L, 10L)) && after.contains((1L, 10L)),
        s"post-compaction batch must still see the corpus: $after")
    } finally q.stop()
  }

  test("near-dup sink restores a stranded signature store before the next batch") {
    val root = java.nio.file.Files.createTempDirectory("ndstrand").toString
    val (sigDir, pairsDir) = (s"$root/sigs", s"$root/pairs")
    val base = "spark runs distributed queries over very large datasets " +
      "with columnar storage and adaptive execution planning across many " +
      "worker nodes while caching hot partitions in memory"
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.nearDupSinkQuery(
      input.toDF().toDF("doc_id", "text"), sigDir, pairsDir).start()
    try {
      input.addData((0L, base), (1L, base)); q.processAllAvailable()
      // a compaction that crashed between its two renames
      assert(new java.io.File(sigDir).renameTo(new java.io.File(s"$sigDir.compact-old")))
      input.addData((10L, base)); q.processAllAvailable()
      val pairs = spark.read.parquet(pairsDir)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(pairs == Set((0L, 1L), (0L, 10L), (1L, 10L)),
        s"doc 10 must pair with the stranded store's docs: $pairs")
      assert(spark.read.parquet(sigDir).select("doc_id").as[Long].collect().sorted
        .toSeq == Seq(0L, 1L, 10L))
      assert(!new java.io.File(s"$sigDir.compact-old").exists())
    } finally q.stop()
  }

  test("closed sessions land in the incremental store exactly once (q75 streaming e2e)") {
    val dir = java.nio.file.Files.createTempDirectory("sesssink").toString
    val input = MemoryStream[Event](spark)
    val q = Streams.sessionSinkQuery(input.toDF(), dir,
      gap = "10 minutes", watermark = "30 minutes").start()
    try {
      input.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 10:05:00", 1, "click", 2.0),  // same session
        ev(3, "2024-01-01 10:30:00", 1, "click", 4.0))  // gap >= 10m → new session
      q.processAllAvailable()
      // watermark far past both sessions → both finalized and emitted
      input.addData(ev(4, "2024-01-01 13:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      // close user 9's session too, and re-run an empty batch (restart-ish)
      input.addData(ev(5, "2024-01-01 16:00:00", 9, "view", 0.0))
      q.processAllAvailable()
      val landed = graft.streaming.WatermarkSync.stored(spark, dir).get
        .select("user_id", "n_events", "total_value")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3))
      // user 1: [e1,e2] (3.0) and [e3] (4.0); user 9: [e4] closed by e5's
      // watermark advance. e5's own session is still open — not landed.
      assert(landed.toSeq == Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (9L, 1L, 0.0)),
        s"landed sessions: ${landed.toSeq}")
    } finally q.stop()
  }

  test("stream-stream join correlates events within the interval bound") {
    val clicks = MemoryStream[Event](spark)
    val buys = MemoryStream[Event](spark)
    val joined = Streams.streamStreamJoin(clicks.toDF(), buys.toDF(),
      within = "1 hour", watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData(
        ev(1, "2024-01-01 10:00:00", 1, "click"),
        ev(2, "2024-01-01 10:00:00", 2, "click"))
      buys.addData(
        ev(10, "2024-01-01 10:30:00", 1, "purchase"), // within 1h of click 1
        ev(11, "2024-01-01 12:30:00", 2, "purchase")) // 2.5h later → outside
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("l_event", "r_event").as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L)),
        s"only the within-interval pair joins: $rows")
    } finally q.stop()
  }

  test("checkpointed query resumes exactly-once across a restart (T1)") {
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/checkpoint"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    def writeBatch(name: String, events: Seq[Event]): Unit =
      events.toDF().write.mode("overwrite").parquet(s"$srcDir/$name")

    writeBatch("b1", Seq(ev(1, "2024-01-01 10:00:00", 1, "click"),
      ev(2, "2024-01-01 10:01:00", 2, "view")))
    val schema = spark.read.parquet(s"$srcDir/b1").schema
    def startQuery() = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(outDir).count() == 2)

    // restart from the same checkpoint; add new data only
    writeBatch("b2", Seq(ev(3, "2024-01-01 10:02:00", 3, "click")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 3, "restart must not reprocess batch 1")
    assert(out.select("event_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("incremental centroids fold running means across micro-batches") {
    import graft.streaming.Streams.{CentroidUpdate, EmbeddingEvent}
    val init = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val input = MemoryStream[EmbeddingEvent](spark)
    val out = Streams.incrementalCentroids(input.toDS(), init)
    val q = out.writeStream.format("memory").queryName("centroid_out")
      .outputMode("update").start()
    try {
      input.addData(
        EmbeddingEvent(1, Seq(1.0, 1.0)), EmbeddingEvent(2, Seq(3.0, 1.0)),
        EmbeddingEvent(3, Seq(9.0, 11.0)))
      q.processAllAvailable()
      input.addData(
        EmbeddingEvent(4, Seq(2.0, 4.0)), EmbeddingEvent(5, Seq(11.0, 9.0)))
      q.processAllAvailable()
      // Update mode: take the LAST emitted row per centroid
      val last = spark.table("centroid_out").as[CentroidUpdate].collect()
        .groupBy(_.centroid_id).map { case (k, v) => k -> v.maxBy(_.n) }
      // centroid 0: docs 1,2,4 → mean (2, 2); state must carry batch 1 into 2
      assert(last(0).n == 3L)
      assert(last(0).mean == Seq(2.0, 2.0), s"got ${last(0)}")
      // centroid 1: docs 3,5 → mean (10, 10)
      assert(last(1).n == 2L)
      assert(last(1).mean == Seq(10.0, 10.0), s"got ${last(1)}")
    } finally q.stop()
  }

  test("streamed centroid refresh feeds IVF search end-to-end") {
    import graft.streaming.Streams.EmbeddingEvent
    // two directionally-separated clusters (x-axis-ish and y-axis-ish) so
    // cosine routing through the streamed centroids is unambiguous
    val init = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val input = MemoryStream[EmbeddingEvent](spark)
    val q = Streams.incrementalCentroids(input.toDS(), init)
      .writeStream.format("memory").queryName("centroid_e2e")
      .outputMode("update").start()
    try {
      input.addData(
        EmbeddingEvent(1, Seq(1.0, 0.1)), EmbeddingEvent(2, Seq(0.9, 0.2)),
        EmbeddingEvent(3, Seq(0.1, 1.0)), EmbeddingEvent(4, Seq(0.2, 0.9)))
      q.processAllAvailable()
      // latest streamed means become the IVF coarse quantizer; note the
      // means are NOT unit vectors — ivfTopKWith must renormalize them
      val centroids = Streams.latestCentroids(spark.table("centroid_e2e"))
      assert(centroids.count() == 2)
      val embeddings = Seq(
        (0L, Seq(1.0, 0.15)), (1L, Seq(0.95, 0.1)),
        (10L, Seq(0.1, 0.9)), (11L, Seq(0.12, 1.1)))
        .toDF("vec_id", "embedding")
      val topk = graft.operators.Similarity
        .ivfTopKWith(embeddings, centroids, nQueries = 1, k = 1, nProbe = 1)
        .select("qid", "nid").as[(Long, Long)].collect()
      // query 0 points x-ward; its sole probe is the streamed x-cluster and
      // must surface its true nearest neighbor (vec 1), not a y-cluster vec
      assert(topk.toSeq == Seq((0L, 1L)), s"got ${topk.toSeq}")
    } finally q.stop()
  }

  test("transformWithState change detector emits only hash transitions (T4 streaming)") {
    val conf = spark.conf
    val prevProvider = conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.KeyedContent](spark)
      // ttl=None -> TimeMode.None: processing-time state ops stall
      // processAllAvailable (see contentChanges scaladoc)
      val out = Streams.contentChanges(input.toDS(), ttl = None)
      val q = out.writeStream.format("memory").queryName("chg_out")
        .outputMode("append").start()
      try {
        def kc(k: Long, h: String, t: String) = Streams.KeyedContent(k, h, ts(t))
        input.addData(kc(1, "a", "2024-01-01 10:00:00"), kc(2, "b", "2024-01-01 10:00:00"))
        q.processAllAvailable()
        input.addData(
          kc(1, "a", "2024-01-01 11:00:00"),  // unchanged -> swallowed
          kc(2, "c", "2024-01-01 11:00:00"))  // changed -> emitted
        q.processAllAvailable()
        input.addData(                         // two transitions in ONE batch
          kc(1, "d", "2024-01-01 12:00:00"),
          kc(1, "e", "2024-01-01 12:30:00"))
        q.processAllAvailable()
        val rows = spark.table("chg_out")
          .as[(Long, String, String)].collect().toSet
        assert(rows == Set(
          (1L, "", "a"), (2L, "", "b"),        // first sight IS a change
          (2L, "b", "c"),
          (1L, "a", "d"), (1L, "d", "e")),     // in-batch fold, event-time order
          s"got $rows")
      } finally q.stop()
    } finally conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("ChangeDetector unit harness: TTL expiry re-emits as first-sight") {
    // The TTL path is untestable via streaming integration (ProcessingTime
    // mode busy-loops no-data batches; see contentChanges scaladoc), so
    // drive the processor directly with a mocked handle. TTL expiry IS
    // "state vanishes between batches" — simulated by clearing the state,
    // which is exactly what the TTL manager does under the hood.
    import org.apache.spark.sql.streaming.{StatefulProcessorHandle, TTLConfig, TimerValues, ValueState}
    class MemValueState[T] extends ValueState[T] with Serializable {
      private var v: Option[T] = None
      override def exists(): Boolean = v.isDefined
      override def get(): T = v.getOrElse(null.asInstanceOf[T])
      override def update(newState: T): Unit = v = Some(newState)
      override def clear(): Unit = v = None
    }
    val state = new MemValueState[String]
    val handle = new StatefulProcessorHandle {
      override def getValueState[T](name: String,
          enc: org.apache.spark.sql.Encoder[T], ttl: TTLConfig): ValueState[T] =
        state.asInstanceOf[ValueState[T]]
      override def getValueState[T](name: String, ttl: TTLConfig)(
          implicit enc: org.apache.spark.sql.Encoder[T]): ValueState[T] =
        state.asInstanceOf[ValueState[T]]
      override def getListState[T](n: String, e: org.apache.spark.sql.Encoder[T],
          t: TTLConfig) = throw new UnsupportedOperationException
      override def getListState[T](n: String, t: TTLConfig)(
          implicit e: org.apache.spark.sql.Encoder[T]) =
        throw new UnsupportedOperationException
      override def getMapState[K, V](n: String, ke: org.apache.spark.sql.Encoder[K],
          ve: org.apache.spark.sql.Encoder[V], t: TTLConfig) =
        throw new UnsupportedOperationException
      override def getMapState[K, V](n: String, t: TTLConfig)(
          implicit ke: org.apache.spark.sql.Encoder[K],
          ve: org.apache.spark.sql.Encoder[V]) =
        throw new UnsupportedOperationException
      override def getQueryInfo() = throw new UnsupportedOperationException
      override def registerTimer(expiryTimestampMs: Long): Unit = ()
      override def deleteTimer(expiryTimestampMs: Long): Unit = ()
      override def listTimers() = Iterator.empty
      override def deleteIfExists(stateName: String): Unit = ()
    }
    val timers = new TimerValues {
      override def getCurrentProcessingTimeInMs(): Long = 0L
      override def getCurrentWatermarkInMs(): Long = 0L
    }
    val det = new Streams.ChangeDetector(Some(java.time.Duration.ofDays(1)))
    det.setHandle(handle)
    det.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    def feed(rows: (String, String)*): List[(String, String)] =
      det.handleInputRows(1L,
        rows.iterator.map { case (h, t) =>
          Streams.KeyedContent(1L, h, ts(t)) },
        timers).map(c => (c.old_sha256, c.new_sha256)).toList
    // batch 1: first sight
    assert(feed(("a", "2024-01-01 10:00:00")) == List(("", "a")))
    // batch 2: same hash while state lives -> swallowed
    assert(feed(("a", "2024-01-01 11:00:00")) == Nil)
    // TTL expiry between batches = the state manager removed the value
    state.clear()
    // batch 3: identical hash now re-emits as a first sight
    assert(feed(("a", "2024-01-01 12:00:00")) == List(("", "a")))
    // in-batch fold still applies post-expiry
    assert(feed(("b", "2024-01-01 13:00:00"), ("c", "2024-01-01 13:30:00"))
      == List(("a", "b"), ("b", "c")))
  }

  test("reconcile flags only hash-changed keys") {
    val stored = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("k", "sha256")
    val fresh = Seq((1L, "aaa"), (2L, "CHANGED"), (4L, "new")).toDF("k", "sha256")
    val out = Streams.reconcile(stored, fresh, "k")
      .select("k", "old_sha256", "new_sha256").as[(Long, String, String)].collect()
    assert(out.toSeq == Seq((2L, "bbb", "CHANGED")))
  }

  test("dedup-index sink: build on first batch, incremental update after, replay-idempotent") {
    import graft.operators.DedupIndex
    val root = java.nio.file.Files.createTempDirectory("dedupidx-sink").toString
    val idxDir = s"$root/index"
    val base = "spark runs distributed queries over very large datasets " +
      "with columnar storage and adaptive execution planning across many " +
      "worker nodes while caching hot partitions in memory"
    val other = "data pipelines ingest clean filter join aggregate and write " +
      "results downstream every day with checkpoint recovery watermark " +
      "tracking and exactly once delivery into warehouse tables"
    val b1 = Seq((1L, base), (2L, "unrelated cooking content with pasta " +
      "sauce and basil herbs in every line of this page"), (3L, "tiny doc"))
    val b2 = Seq((4L, base.replaceAll("memory$", "ram")), (5L, other))
    val b3 = Seq((6L, other.replaceAll("tables$", "marts")))
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.dedupIndexSinkQuery(
      input.toDF().toDF("doc_id", "text"), idxDir).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()      // builds
      input.addData(b2: _*); q.processAllAvailable()      // cross-batch pair 1~4
      input.addData(b3: _*); q.processAllAvailable()      // cross-batch pair 5~6
      input.addData(b2: _*); q.processAllAvailable()      // full replay: no-op
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val streamed = DedupIndex.load(spark, idxDir)
      // the streamed index must equal a one-shot build of the same corpus
      val oneShot = s"$root/oneshot"
      DedupIndex.build(all, oneShot)
      val full = DedupIndex.load(spark, oneShot)
      assert(rows(streamed.pairs) === rows(full.pairs), "pairs diverge")
      assert(rows(streamed.clusters) === rows(full.clusters), "clusters diverge")
      assert(rows(streamed.counts) === rows(full.counts), "counts diverge")
      assert(rows(streamed.meta) === rows(full.meta),
        "replay must not inflate meta n_docs")
      // and the planted cross-batch near-dup pairs actually surfaced
      val p = streamed.pairs.filter(col("jaccard") >= 0.6)
        .select("d1", "d2").as[(Long, Long)].collect().toSet
      assert(p == Set((1L, 4L), (5L, 6L)), s"cross-batch pairs: $p")
    } finally q.stop()
  }

  test("q188 streaming twin: at-ingest lateness ladder equals the batch audit") {
    val conf = spark.conf
    val prevProvider = conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // planted DISORDER: ts out of arrival order so lateness is nonzero
      // (the real events table arrives ordered — the audit's all-zero
      // answer there is honest but exercises nothing)
      def ev(id: Long, ts: String) =
        (id, java.sql.Timestamp.valueOf(ts), id, "view", 0.0, "{}")
      val rows = Seq(
        ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"),
        ev(3, "2024-01-01 10:04:30"),            // 30 s late
        ev(4, "2024-01-01 09:50:00"),            // 15 min late
        ev(5, "2024-01-01 10:06:00"),
        ev(6, "2024-01-01 08:00:00"),            // > 1 h late
        ev(7, "2024-01-01 10:07:00"))
      val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val want = Streams.watermarkLatenessAudit(df)
        .collect().map(_.toString).toSeq
      val input = MemoryStream[Streams.Event](spark)
      val out = Streams.latenessStream(input.toDF())
      val q = out.writeStream.format("memory").queryName("late_out")
        .outputMode("append").start()
      try {
        // two batches split mid-stream: the running max crosses the boundary
        val evs = df.as[Streams.Event].collect().sortBy(_.event_id)
        input.addData(evs.take(4).toIndexedSeq); q.processAllAvailable()
        input.addData(evs.drop(4).toIndexedSeq); q.processAllAvailable()
        val got = Streams.latenessLadder(spark.table("late_out"))
          .collect().map(_.toString).toSeq
        assert(got === want, s"streamed ladder diverges:\n$got\nvs\n$want")
        // spot-check the per-event values the ladder was built from
        val perEvent = spark.table("late_out")
          .as[Streams.EventLateness].collect().map(l => l.event_id -> l.late_s).toMap
        assert(perEvent(3L) === 30.0 && perEvent(4L) === 900.0)
        assert(perEvent(6L) > 3600.0 && perEvent(7L) === 0.0)
      } finally q.stop()
    } finally conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("q169 actives-sketch sink: streamed daily table reproduces the batch estimates; replay-invariant") {
    val root = java.nio.file.Files.createTempDirectory("actives-sink").toString
    val sketchDir = s"$root/daily"
    val events = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch oracle: the declared face over the whole table
    val want = operators.EventAnalytics.rollingActiveUsersSketch(events)
      .collect().map(_.toString).sorted.toSeq
    // stream the SAME events in three ts-ordered slices + a replay
    val rows = events.orderBy("ts", "event_id")
      .as[Streams.Event].collect()
    val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
    val input = MemoryStream[Streams.Event](spark)
    val q = Streams.activesSketchSinkQuery(input.toDF(), sketchDir).start()
    try {
      var from = 0
      cuts.foreach { to =>
        input.addData(rows.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      // replay the middle slice: HLL insertion is idempotent, the store
      // must not move
      val before = spark.read.parquet(sketchDir)
        .select(col("d"), expr("hll_sketch_estimate(sk)").as("e"))
        .collect().map(_.toString).sorted.toSeq
      input.addData(rows.slice(cuts(0), cuts(1)).toIndexedSeq)
      q.processAllAvailable()
      val after = spark.read.parquet(sketchDir)
        .select(col("d"), expr("hll_sketch_estimate(sk)").as("e"))
        .collect().map(_.toString).sorted.toSeq
      assert(after === before, "replayed batch must merge to identical sketches")
      val got = operators.EventAnalytics.rollingActivesFromDaily(
          spark.read.parquet(sketchDir))
        .collect().map(_.toString).sorted.toSeq
      assert(got === want,
        "rolling estimates from the streamed store must equal the batch face")
    } finally q.stop()
  }

  test("q213 substring-store sink: streamed store answers like one-shot q210; replay-invariant") {
    import graft.operators.{Dedup, SubstrDupStore}
    val root = java.nio.file.Files.createTempDirectory("substr-sink").toString
    val storeDir = s"$root/store"
    val docs = Tables.documents(spark, sf001)
    val want = Dedup.exactSubstringDup(docs).collect().map(_.toString).toSeq
    val rows = docs.orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect()
    val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.substrStoreSinkQuery(
      input.toDF().toDF("doc_id", "text"), storeDir).start()
    try {
      var from = 0
      cuts.foreach { to =>
        input.addData(rows.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      assert(SubstrDupStore.statsAgainst(docs, storeDir)
        .collect().map(_.toString).toSeq === want,
        "streamed store must answer exactly like the one-shot face")
      // replay the middle slice: the folded store must not move
      val before = SubstrDupStore.folded(spark, storeDir)
        .orderBy("h").collect().map(_.toString).toSeq
      input.addData(rows.slice(cuts(0), cuts(1)).toIndexedSeq)
      q.processAllAvailable()
      assert(SubstrDupStore.folded(spark, storeDir)
        .orderBy("h").collect().map(_.toString).toSeq === before,
        "replayed batch must fold away")
    } finally q.stop()
  }

  test("q208 kmv sink: streamed sketch table reproduces the one-shot overlap matrix; replay-invariant") {
    import graft.operators.Curation
    val root = java.nio.file.Files.createTempDirectory("kmv-sink").toString
    val sketchDir = s"$root/kmv"
    val docs = Tables.documents(spark, sf001)
    // batch oracle: the q208 matrix over a one-shot sketch of everything
    val want = Curation.sourceOverlapKmv(Curation.sourceShingleKmv(docs))
      .orderBy("src_a", "src_b").collect().map(_.toString).toSeq
    val rows = docs.orderBy("doc_id")
      .select("source", "text").as[(String, String)].collect()
    val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
    val input = MemoryStream[(String, String)](spark)
    val q = Streams.kmvSketchSinkQuery(
      input.toDF().toDF("source", "text"), sketchDir).start()
    try {
      var from = 0
      cuts.foreach { to =>
        input.addData(rows.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      // replay the middle slice: KMV insertion is a distinct union, the
      // store must not move
      def store() = spark.read.parquet(sketchDir)
        .collect().map(_.toString).sorted.toSeq
      val before = store()
      input.addData(rows.slice(cuts(0), cuts(1)).toIndexedSeq)
      q.processAllAvailable()
      assert(store() === before, "replayed batch must merge to identical sketches")
      val got = Curation.sourceOverlapKmv(spark.read.parquet(sketchDir))
        .orderBy("src_a", "src_b").collect().map(_.toString).toSeq
      assert(got === want,
        "overlap matrix from the streamed store must equal the one-shot face")
    } finally q.stop()
  }

  test("kmv sink restores a stranded sketch table: streamed table equals the one-shot sketch") {
    import graft.operators.Curation
    val sketchDir = java.nio.file.Files.createTempDirectory("kmv-strand").toString + "/kmv"
    val docs = Tables.documents(spark, sf001)
    def sketches(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "kmv").as[(String, Seq[Long])].collect().toMap
    val want = sketches(Curation.sourceShingleKmv(docs))
    val rows = docs.orderBy("doc_id")
      .select("source", "text").as[(String, String)].collect()
    val input = MemoryStream[(String, String)](spark)
    val q = Streams.kmvSketchSinkQuery(
      input.toDF().toDF("source", "text"), sketchDir).start()
    try {
      input.addData(rows.take(rows.length / 2).toIndexedSeq); q.processAllAvailable()
      // a swap that crashed between its two renames
      assert(new java.io.File(sketchDir)
        .renameTo(new java.io.File(s"$sketchDir.compact-old")))
      input.addData(rows.drop(rows.length / 2).toIndexedSeq); q.processAllAvailable()
      assert(sketches(spark.read.parquet(sketchDir)) == want,
        "the streamed table must hold both batches")
      assert(!new java.io.File(s"$sketchDir.compact-old").exists())
    } finally q.stop()
  }

  test("q137 streaming twin: anomaly scores window-for-window equal to the batch face") {
    val conf = spark.conf
    val prevProvider = conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables.events(spark, sf001)
      // the ORACLE: the batch face on the real table, keyed (type, hr)
      val batch = operators.EventAnalytics.eventAnomaly(events)
        .withColumn("hr",
          (unix_timestamp(col("hour").cast("timestamp")) / 3600L).cast("long"))
        .collect().map { r =>
          (r.getString(0), r.getLong(8)) ->
            (r.getLong(2), r.getLong(3),
              if (r.isNullAt(4)) None else Some(r.getDouble(4)),
              if (r.isNullAt(5)) None else Some(r.getDouble(5)),
              if (r.isNullAt(6)) None else Some(r.getDouble(6)),
              r.getBoolean(7))
        }.toMap
      // the same hourly counts the windowed-agg faces produce, split into
      // three hr-ordered micro-batches so state carry-over AND eviction
      // both run across batch boundaries
      val hourly = events
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .select(col("event_type"),
          (unix_timestamp(col("hour")) / 3600L).cast("long").as("hr"),
          col("c"))
        .as[Streams.HourlyTypeCount].collect().sortBy(_.hr)
      val cuts = Seq(hourly.length / 3, 2 * hourly.length / 3, hourly.length)
      val input = MemoryStream[Streams.HourlyTypeCount](spark)
      val out = Streams.hourlyAnomalyStream(input.toDS())
      val q = out.writeStream.format("memory").queryName("anomaly_out")
        .outputMode("append").start()
      try {
        var from = 0
        cuts.foreach { to =>
          input.addData(hourly.slice(from, to).toIndexedSeq)
          q.processAllAvailable()
          from = to
        }
        val got = spark.table("anomaly_out")
          .as[Streams.AnomalyRow].collect()
          .map(a => (a.event_type, a.hr) ->
            (a.c, a.n_trail, a.trail_mean, a.trail_sd, a.z, a.anomaly)).toMap
        assert(got.keySet === batch.keySet, "twin must emit exactly the batch rows")
        got.foreach { case (k, v) =>
          assert(v === batch(k), s"window $k diverges: streaming $v vs batch ${batch(k)}")
        }
        // the corpus must actually exercise the scored region
        assert(batch.values.exists(_._6), "fixture sanity: at least one anomaly")
        assert(batch.values.exists(_._3.isDefined) && batch.values.exists(_._3.isEmpty),
          "fixture sanity: both warm-up (short-trail) and scored windows present")
      } finally q.stop()
    } finally conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("q206 streaming twin: concurrent-session pairs equal the batch face across micro-batches") {
    import graft.operators.TemporalJoins
    val dir = java.nio.file.Files.createTempDirectory("sess-iv-store").toString
    val events = Tables.events(spark, sf001)
    // the whole real table, global ts order, split into three
    // micro-batches so sessions OPEN in one batch and CLOSE in another
    val rows = events.select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect().map(r => Streams.Event(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4), "{}"))
    val maxTs = rows.map(_.ts.getTime).max
    // sentinel far past every session + watermark: closes ALL sessions
    val sentinel = Streams.Event(999999999L,
      new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000), 999999999L, "view", 0.0, "{}")
    val input = MemoryStream[Streams.Event](spark)
    val q = Streams.sessionIntervalsSinkQuery(input.toDF(), dir).start()
    try {
      val cuts = Seq(rows.length / 3, 2 * rows.length / 3, rows.length)
      var from = 0
      cuts.foreach { to =>
        input.addData(rows.slice(from, to).toIndexedSeq)
        q.processAllAvailable()
        from = to
      }
      input.addData(sentinel); q.processAllAvailable()
      val iv = graft.streaming.WatermarkSync.stored(spark, dir).get
        .filter(col("user_id") =!= sentinel.user_id)
        .select("user_id", "st", "en")
      val streamed = TemporalJoins.concurrentSessionsFromIntervals(iv)
        .collect().map(_.toString).toSeq
      val batch = TemporalJoins.concurrentSessions(events)
        .collect().map(_.toString).toSeq
      assert(batch.nonEmpty, "fixture sanity: the table has concurrent sessions")
      assert(streamed === batch,
        s"streamed pairs diverge from batch q206 (${streamed.size} vs ${batch.size})")
    } finally q.stop()
  }

  test("watermark sync on a non-file: scheme: a replayed batch lands 0 rows") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${OtherSchemeLocalFileSystem.scheme}.impl", classOf[OtherSchemeLocalFileSystem].getName)
    val state = s"${OtherSchemeLocalFileSystem.scheme}:" +
      java.nio.file.Files.createTempDirectory("wm-scheme").toString
    val batch = Seq((1L, "2024-01-10 00:00:00"), (2L, "2024-01-10 06:00:00"))
      .toDF("key", "tss").select(col("key"), to_timestamp(col("tss")).as("ts"))
    val sync = graft.streaming.WatermarkSync
    assert(sync.syncBatch(spark, batch, state, "ts", Seq("key")).appended == 2)
    assert(sync.syncBatch(spark, batch, state, "ts", Seq("key")).appended == 0,
      "the landed table must be found through the path's FileSystem")
    assert(sync.stored(spark, state).get.count() == 2)
    assert(sync.readWatermark(state, spark) ===
      Some(batch.agg(max(unix_micros(col("ts")))).head().getLong(0)))
  }

  test("anomaly twin late-data gate: beyond-horizon rows dropped, never mis-scored") {
    val conf = spark.conf
    val prevProvider = conf.get("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Streams.HourlyTypeCount](spark)
      val q = Streams.hourlyAnomalyStream(input.toDS())
        .writeStream.format("memory").queryName("anomaly_late")
        .outputMode("append").start()
      try {
        // batch 1: monotone hours 100..130 → high-water 130, hours < 106
        // evicted after the batch
        input.addData((100L to 130L).map(h => Streams.HourlyTypeCount("x", h, 5L)))
        q.processAllAvailable()
        // batch 2: hr 80 is BELOW 130 − 24 — its baseline is gone; hr 110
        // is inside the window (shrunken baseline 106..109 → n_trail 4);
        // hr 131 is the monotone path (full 24-hour baseline)
        input.addData(Seq(
          Streams.HourlyTypeCount("x", 80L, 99L),
          Streams.HourlyTypeCount("x", 110L, 7L),
          Streams.HourlyTypeCount("x", 131L, 5L)))
        q.processAllAvailable()
        val got = spark.table("anomaly_late").as[Streams.AnomalyRow]
          .collect().map(a => a.hr -> a).toMap
        assert(!got.contains(80L),
          "a row older than maxSeen − trailHours must be dropped, not scored")
        assert(got(110L).n_trail == 4L,
          s"in-window late row scores against the retained hours only: ${got(110L)}")
        assert(got(131L).n_trail == 24L,
          s"monotone row keeps the full trailing baseline: ${got(131L)}")
      } finally q.stop()
    } finally conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }
}

/** The local file system under a scheme of its own: a store on it is
  * reachable only through Hadoop's FileSystem API, as on hdfs:// or s3a://. */
class OtherSchemeLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${OtherSchemeLocalFileSystem.scheme}:///")
  override def getScheme: String = OtherSchemeLocalFileSystem.scheme
}

object OtherSchemeLocalFileSystem {
  val scheme = "graftlocal"
}
