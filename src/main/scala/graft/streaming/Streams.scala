package graft.streaming

import graft.{ParquetStore, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming / incremental layer (SURVEY.md §2.9).
  *
  * The reference specifies watermark-based incremental sync with overlap
  * and key dedupe (dossier :224–241 EDGAR 48h/accessionNumber, :692–725 APS
  * 72h/AccessionNumber) and leaves `checkpoint()` as a hook
  * (connectors/base.py:32–34). Here that contract is Structured Streaming:
  * `withWatermark` + `dropDuplicatesWithinWatermark` for T2/T3, windowed
  * aggregations over event time, `flatMapGroupsWithState` for custom
  * session state, and a batch reconciliation join for T4 (reissue
  * detection by hash-diff — late-arriving upstream correction, not
  * event-time lateness).
  *
  * Scale notes: streaming state is keyed and partitioned by the dedup/
  * group key, so state volume is O(distinct keys within watermark), and
  * checkpointing handles executor loss. All operators below work
  * identically on a 1000-executor cluster — nothing is collected.
  */
object Streams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  case class SessionSummary(user_id: Long, n_events: Long, total_value: Double,
      closed: Boolean)

  /** T2/T3: event-time dedup within a watermark window — one row per key
    * inside the overlap horizon; late duplicates beyond the watermark are
    * dropped by state expiry instead of unbounded state growth. */
  def dedupWithinWatermark(
      events: DataFrame,
      overlap: String = "48 hours",
      keys: Seq[String] = Seq("user_id", "event_type")): DataFrame =
    events
      .withWatermark("ts", overlap)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Tumbling event-time window counts with watermark-bounded state. */
  def tumblingCounts(
      events: DataFrame,
      width: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding windows (width, slide) — same shape, overlapping assignment. */
  def slidingCounts(
      events: DataFrame,
      width: String = "1 hour",
      slide: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Custom keyed state (§2.10 extension surface): per-user session
    * aggregation via flatMapGroupsWithState — emits a running summary per
    * trigger; with a processing-time timeout configured, emits a closing
    * summary when the session expires (None → NoTimeout, state lives for
    * the query's lifetime — the testable mode, since timeout-driven empty
    * triggers keep processAllAvailable from ever settling). */
  def userSessions(
      events: Dataset[Event],
      timeoutMs: Option[Long] = None): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val timeoutConf = timeoutMs
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
      .getOrElse(GroupStateTimeout.NoTimeout())
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), SessionSummary](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            Iterator(SessionSummary(userId, n, v, closed = true))
          } else {
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var v = v0
            rows.foreach { e => n += 1; v += e.value }
            state.update((n, v))
            timeoutMs.foreach(state.setTimeoutDuration)
            Iterator(SessionSummary(userId, n, v, closed = false))
          }
      }
  }

  /** Event-time session windows (native session_window: sessions close
    * after `gap` of silence per key) — the declarative alternative to
    * [[userSessions]]'s explicit state. */
  def sessionWindowCounts(
      events: DataFrame,
      gap: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Wire a stream into the batch-incremental store: every micro-batch
    * flows through [[WatermarkSync.syncBatch]] (overlap re-read + anti-join
    * dedupe + watermark advance). This is the T1 checkpoint contract made
    * concrete — exactly-once landing via the sync's idempotence rather
    * than sink transactions. */
  def incrementalSinkQuery(
      events: DataFrame,
      stateDir: String,
      keyCols: Seq[String],
      overlap: String = "48 hours"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        WatermarkSync.syncBatch(batch.sparkSession, batch, stateDir, "ts",
          keyCols, overlap)
        ()
      }

  /** Land watermark-closed sessions into the incremental store — the
    * streaming face of q75 wired to the T3 sync. Append mode emits a
    * session only once its window is finalized by the watermark, and
    * each micro-batch of closed sessions flows through
    * [[WatermarkSync.syncBatch]] keyed on (user_id, session_start), so a
    * replayed/restarted batch lands exactly once (same contract the
    * event-landing path pins in StreamingSpec).
    *
    * The sync's horizon column is session END, not start: a session is
    * emitted when the watermark passes its end + gap, so the end lags
    * emission by a bounded amount (the sync's contract) while the START
    * lags by the session's full duration — a session longer than
    * `overlap` would land with session_start already below the
    * stored-max − overlap horizon and be silently discarded if the
    * horizon keyed on start. */
  def sessionSinkQuery(
      events: DataFrame,
      stateDir: String,
      gap: String = "10 minutes",
      watermark: String = "30 minutes",
      overlap: String = "48 hours"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sessionWindowCounts(events, gap, watermark).writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        WatermarkSync.syncBatch(batch.sparkSession, batch, stateDir,
          "session_end", Seq("user_id", "session_start"), overlap)
        ()
      }

  /** q206's streaming twin, stage 1: land watermark-closed session
    * INTERVALS (user_id, st, en — min/max event time, the
    * [[graft.operators.TemporalJoins.sessionIntervals]] frame) into the
    * incremental store, exactly-once via the T3 sync keyed
    * (user_id, st). [[graft.operators.TemporalJoins.concurrentSessionsFromIntervals]]
    * then answers the interval-overlap join from the store — so the
    * coordinated-account audit stays queryable against a continuously
    * ingested event stream with no event-log rescan.
    *
    * Gap parity: the batch face SPLITS on gap > 1800 s (strict), while
    * session_window splits on ts ≥ prev_end = prev + gap — so the
    * streaming gap adds ONE MICROSECOND (the event-time granularity):
    * an exact 1800.000000 s gap merges on both faces, 1800.000001
    * splits on both; no µs-grained timestamp can fall between.
    * StreamingSpec pins pair-for-pair equality to batch q206 across
    * micro-batch boundaries on the real events table.
    *
    * The sync's horizon column is `en` (session end): emission lags
    * `en` by a bounded amount, but lags `st` by the whole session
    * duration — an interval longer than `overlap` would be silently
    * dropped by an st-keyed horizon (its st < stored-max − overlap by
    * the time it closes), losing every overlap pair it participates
    * in. ScaleUtilSpec plants exactly that long interval. */
  def sessionIntervalsSinkQuery(
      events: DataFrame,
      stateDir: String,
      gapSec: Long = 1800,
      watermark: String = "30 minutes",
      overlap: String = "48 hours"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), s"${gapSec * 1000000L + 1} microseconds"),
        col("user_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      .select(col("user_id"), col("st"), col("en"))
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        WatermarkSync.syncBatch(batch.sparkSession, batch, stateDir, "en",
          Seq("user_id", "st"), overlap)
        ()
      }

  // Declared schemas of the sinks' stores and pair logs: every read goes
  // through ParquetStore.readOrEmpty with one of these.
  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))
  private val SigSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("sig", ArrayType(LongType))))
  private val DocPairSchema = StructType(Seq(
    StructField("d1", LongType), StructField("d2", LongType),
    StructField("est_jaccard", DoubleType)))
  private val DocsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))
  private val FrameSchema = StructType(Seq(
    StructField("asset_id", LongType), StructField("frame_index", IntegerType),
    StructField("dhash", LongType)))
  private val HashSchema = longs("asset_id", "dhash")
  private val AssetPairSchema = longs("a1", "a2", "dist")
  private val VideoPairSchema = longs("a1", "a2", "n_match")
  private val DocPairKeys = Seq("d1", "d2")
  private val AssetPairKeys = Seq("a1", "a2")

  /** Streaming near-dup detection at ingest: each micro-batch of documents
    * is checked against the PERSISTED MinHash signature store
    * ([[graft.operators.Dedup.incrementalMinhashPairs]] — batch↔corpus
    * candidates, never re-shingling history), then against itself (the
    * q52 self-join on just the batch), and finally appends its own
    * signatures to the store. Near-dups are flagged the moment they
    * arrive and the corpus index grows incrementally — the streaming face
    * of the scheduled-crawl dedup shape.
    *
    * Replayed batches (restart without a committed offset) are absorbed
    * by dedup-appends ([[ParquetStore.appendNew]], K2): signatures are
    * keyed on doc_id, pairs on (d1, d2) — landing is exactly-once by
    * idempotence, not sink transactions. */
  def nearDupSinkQuery(
      docs: DataFrame, sigDir: String, pairsDir: String,
      numHashes: Int = 16, bands: Int = 4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.Dedup
        // the batch feeds three consumers (cross pairs, self pairs, sigs):
        // pin it once so the source is not re-evaluated per consumer
        val b = batch.localCheckpoint(true)
        val store = ParquetStore.readOrEmpty(batch.sparkSession, sigDir, SigSchema)
        val pairs = Dedup.incrementalMinhashPairs(b, store, numHashes, bands)
          .unionByName(Dedup.minhashLshPairs(b, numHashes, bands))
        // pairs FIRST (vs the pre-batch store), then the signature append
        ParquetStore.appendNew(pairs, pairsDir, DocPairSchema, DocPairKeys)
        ParquetStore.appendNew(Dedup.minhashSignatures(b, numHashes), sigDir,
          SigSchema, Seq("doc_id"))
        ()
      }

  /** At-ingest maintenance of the q169 per-day HLL sketch table: every
    * micro-batch sketches its own (day, users) slice and UNIONS into the
    * persisted table ([[ParquetStore.swapMerge]] — the table stays
    * days-sized, never appends-forever). HLL insertion is idempotent
    * and order-free, so at-least-once replays merge to the IDENTICAL
    * sketch — no roster needed, unlike the dedup-index sink. The rolling
    * DAU/WAU/MAU estimates then run over the store via
    * [[graft.operators.EventAnalytics.rollingActivesFromDaily]] without
    * ever re-reading event history. */
  def activesSketchSinkQuery(
      events: DataFrame, sketchDir: String,
      lgK: Int = 12): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ParquetStore.swapMerge(sketchDir,
            graft.operators.EventAnalytics.dailyActiveSketches(batch, lgK)) {
          (stored, fresh) =>
            stored.unionByName(fresh)
              .groupBy("d").agg(expr("hll_union_agg(sk)").as("sk"))
        }
        ()
      }

  /** At-ingest maintenance of the q208 per-source KMV sketch table:
    * every micro-batch sketches its own (source, shingles) slice and
    * sorted-merge-truncates into the persisted table
    * ([[ParquetStore.swapMerge]] — the table stays sources-sized, never
    * appends forever). KMV insertion is a DISTINCT union of hash values, so
    * at-least-once replays merge to the IDENTICAL sketch — the HLL
    * sink's idempotence argument, no roster needed — and the merge is
    * associative, so batch boundaries don't matter either
    * (StreamingSpec pins streamed == one-shot). The source-overlap
    * matrix (q208) then runs over the store via
    * [[graft.operators.Curation.sourceOverlapKmv]] without ever
    * re-reading ingested text. */
  def kmvSketchSinkQuery(
      docs: DataFrame, sketchDir: String,
      k: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.Curation
        ParquetStore.swapMerge(sketchDir, Curation.sourceShingleKmv(batch, k = k))(
          Curation.mergeSourceShingleKmv(_, _, k))
        ()
      }

  /** At-ingest maintenance of the [[graft.operators.SubstrDupStore]]
    * window-hash store: the first micro-batch builds, every later batch
    * appends its (h, mn, mx) wave — so the per-doc substring-duplication
    * gate (q210's contract via `statsAgainst`) stays answerable against
    * a continuously-ingested corpus that is never re-windowed. Replays
    * append duplicate waves, which the min/max fold erases — idempotent
    * with no roster, like the sketch sinks. Run
    * [[graft.operators.SubstrDupStore.compact]] between batches to fold
    * the wave files. */
  def substrStoreSinkQuery(
      docs: DataFrame, storeDir: String,
      windowLen: Int = 40): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.SubstrDupStore
        val spark = batch.sparkSession
        val metaPath = new org.apache.hadoop.fs.Path(s"$storeDir/meta")
        val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(metaPath)) SubstrDupStore.build(batch, storeDir, windowLen)
        else SubstrDupStore.update(batch, storeDir)
        ()
      }

  /** q223's streaming ingest half: each micro-batch of documents lands
    * in three replay-idempotent stores — the md5-family MinHash
    * signature store, the near-dup PAIR LOG (batch×store cross pairs +
    * batch self pairs, the q52 lane family, so the log is exactly the
    * full-corpus q52 pair set once everything has arrived — regardless
    * of arrival order, since the pair (a, b) surfaces when the LATER of
    * the two ingests), and the raw docs store. Publish time
    * ([[publishCurationSnapshot]]) derives the near-dup gate from the
    * log and runs the batch face's stages 2–4 verbatim — no corpus
    * re-shingle, the incremental-index shape of the pipeline face.
    * All three appends are K2 dedup-appends, so foreachBatch replays
    * land nothing new. */
  def curationIngestSinkQuery(docs: DataFrame, docsDir: String,
      sigDir: String, pairsDir: String, numHashes: Int = 16,
      bands: Int = 4): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.Dedup
        val b = batch.localCheckpoint(true)
        val store = ParquetStore.readOrEmpty(batch.sparkSession, sigDir, SigSchema)
        val pairs = Dedup.incrementalMinhashPairs(b, store, numHashes, bands,
            family = "md5")
          .unionByName(Dedup.minhashLshPairsMd5(b, numHashes, bands))
        ParquetStore.appendNew(pairs, pairsDir, DocPairSchema, DocPairKeys)
        ParquetStore.appendNew(Dedup.minhashSignaturesMd5(b, numHashes), sigDir,
          SigSchema, Seq("doc_id"))
        ParquetStore.appendNew(b.select("doc_id", "text", "source"), docsDir,
          DocsSchema, Seq("doc_id"))
        ()
      }

  /** q223's publish half: cut a training snapshot from the ingest
    * stores — near-dup gate from the accumulated pair log, then the
    * batch face's classifier gate / token budget / shard write
    * ([[graft.operators.Curation.curationPipelineFrom]] — literally the
    * same code both faces run from stage 2 on). Returns the 5-row
    * funnel report; StreamingSpec asserts it equals the batch q223 face
    * row for row after scrambled-order ingestion. */
  def publishCurationSnapshot(spark: SparkSession, docsDir: String,
      pairsDir: String, weights: DataFrame, dupThreshold: Double = 0.5,
      keepFrac: Double = 0.5, budgetPerSource: Long = 800L,
      shardDir: Option[String] = None): DataFrame = {
    val docs = ParquetStore.readOrEmpty(spark, docsDir, DocsSchema)
    val dupIds = ParquetStore.readOrEmpty(spark, pairsDir, DocPairSchema)
      .filter(col("est_jaccard") >= dupThreshold)
      .select(col("d2").as("doc_id")).distinct()
    graft.operators.Curation.curationPipelineFrom(docs, dupIds, weights,
      keepFrac, budgetPerSource, shardDir)
  }

  /** At-ingest maintenance of the persisted [[graft.operators.DedupIndex]]:
    * the first micro-batch BUILDS the index at `indexDir`, every later
    * batch runs the incremental [[graft.operators.DedupIndex.update]]
    * (new×(old∪new) pairs under the union-side df cap, pairs-sized
    * recluster, atomic swap) — so the cluster family's apply faces stay
    * queryable against a continuously-ingested corpus without ever
    * re-shingling it. foreachBatch is at-least-once, so replayed rows
    * are anti-joined away against the index's OWN roster relation
    * (which covers shingle-less short docs the other relations never
    * record) BEFORE update() sees them — update requires disjoint ids.
    * The roster commits ATOMICALLY with the wave that carried it
    * (update's `_waves` marker is the single commit point for all
    * relation appends), and the wave id is the batch id, so a crash
    * anywhere inside a batch leaves the index exactly at the previous
    * batch's state and the replay — same batch id, same rows — redoes
    * the whole wave; a replay of a COMPLETED batch anti-joins to empty
    * and skips the update entirely (no meta drift, no pointless
    * recluster). */
  def dedupIndexSinkQuery(
      docs: DataFrame, indexDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.DedupIndex
        val spark = batch.sparkSession
        val b0 = batch.localCheckpoint(true)
        if (DedupIndex.committedWaves(spark, indexDir).isEmpty)
          DedupIndex.build(b0, indexDir, baseWave = s"batch-$batchId")
        else {
          val fresh = b0.join(
              DedupIndex.roster(spark, indexDir), Seq("doc_id"), "left_anti")
            .localCheckpoint(true) // consumers: emptiness probe + update
          if (!fresh.isEmpty)
            DedupIndex.update(fresh, indexDir, waveId = Some(s"batch-$batchId"))
        }
        ()
      }

  /** Maintenance for the [[nearDupSinkQuery]] stores: every micro-batch
    * appends a few small parquet files to the signature and pair stores
    * forever — at crawl cadence that is thousands of files per day, and
    * the per-batch reads degrade O(files). [[ParquetStore.compact]]
    * rewrites the rows into ceil(rows / targetRowsPerFile) files and
    * swaps them in. Run it between micro-batches or from a scheduled
    * maintenance job; rows are byte-identical before and after, so
    * near-dup flags are too. Returns (filesBefore, filesAfter). */
  def compactNearDupStore(
      spark: SparkSession, path: String,
      targetRowsPerFile: Long = 4000000L): (Int, Int) = {
    val stats = ParquetStore.compact(spark, path, targetRowsPerFile)
    (stats.filesBefore, stats.filesAfter)
  }

  /** At-ingest perceptual dedup for MEDIA assets — the multimodal twin
    * of [[nearDupSinkQuery]]: each micro-batch decodes + dHashes its
    * images (narrow, bytes never shuffle), flags near-dups against the
    * accumulated hash store via [[graft.operators.ImageHash.incrementalNearDupPairs]]
    * (new × store only) AND within the batch, then appends its hashes.
    * Both appends are K2 dedup-appends, so replayed batches and an asset
    * repeated inside one batch land once; the stores compact with
    * [[compactNearDupStore]] — 16-byte rows, same maintenance contract. */
  def mediaDedupSinkQuery(
      assets: DataFrame, hashDir: String, pairsDir: String,
      maxDist: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    perceptualDedupSinkQuery(assets, hashDir, pairsDir, maxDist,
      graft.operators.ImageHash.imageHashes)

  /** The AUDIO at-ingest twin (r16): identical store/pair-log machinery
    * — the banded Hamming machinery is modality-blind over any 64-bit
    * perceptual hash — with the routed audio decode
    * ([[graft.operators.ImageHash.audioEnergyHashes]]: WAV/FLAC/G.711/
    * ADPCM/AIFF/AU → energy-window hash) on the ingest edge. */
  def audioDedupSinkQuery(
      assets: DataFrame, hashDir: String, pairsDir: String,
      maxDist: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    perceptualDedupSinkQuery(assets, hashDir, pairsDir, maxDist,
      graft.operators.ImageHash.audioEnergyHashes)

  private def perceptualDedupSinkQuery(
      assets: DataFrame, hashDir: String, pairsDir: String, maxDist: Int,
      hasher: org.apache.spark.sql.Dataset[graft.operators.Multimodal.MediaAsset] => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    assets.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{ImageHash, Multimodal}
        val spark = batch.sparkSession
        import spark.implicits._
        // hash ONCE per batch (decode is the expensive step); the hash
        // frame feeds three consumers (cross pairs, self pairs, append)
        val hashes = hasher(
          batch.as[Multimodal.MediaAsset]).localCheckpoint(true)
        val store = ParquetStore.readOrEmpty(spark, hashDir, HashSchema)
        val pairs = ImageHash.incrementalNearDupPairs(hashes, store, maxDist)
          .unionByName(ImageHash.nearDupImagePairs(hashes, maxDist))
        ParquetStore.appendNew(pairs, pairsDir, AssetPairSchema, AssetPairKeys)
        ParquetStore.appendNew(hashes, hashDir, HashSchema, Seq("asset_id"))
        ()
      }

  /** q230's streaming ingest half (the q223 discipline at video level):
    * each micro-batch of media assets decodes + per-frame dHashes ONCE
    * (narrow — container bytes never shuffle), then lands in two
    * replay-idempotent stores: the frame-hash store and the video-pair
    * LOG (batch×store cross pairs via
    * [[graft.operators.ImageHash.incrementalVideoNearDupPairs]] + batch
    * self pairs — assets arrive whole, so the pair (a, b) is complete at
    * the LATER member's arrival regardless of order, and the log
    * converges to the full-corpus q225 pair set). Frames already in the
    * store, or repeated inside the batch, are dropped (K2 on
    * (asset_id, frame_index)) BEFORE pairing, so foreachBatch replays
    * land nothing new; pairs append before frames (a crash between the
    * two leaves the asset un-ingested, and the replay redoes both).
    * Publish time ([[publishVideoCurationSnapshot]]) derives the drop
    * set from the log and runs the batch face's stages 1–3 verbatim. */
  def videoIngestSinkQuery(assets: DataFrame, framesDir: String,
      pairsDir: String, maxDist: Int = 3,
      minFrames: Long = 2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    assets.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{ImageHash, Multimodal}
        val spark = batch.sparkSession
        import spark.implicits._
        // read lazily: framesDir is immutable until the append below, so
        // both consumers (replay filter + cross pairs) re-scan the parquet
        // — an eager checkpoint here would re-materialize the WHOLE store
        // every batch, O(corpus) per batch
        val store = ParquetStore.readOrEmpty(spark, framesDir, FrameSchema)
        val fresh = ParquetStore.newRows(
            ImageHash.videoFrameHashes(batch.as[Multimodal.MediaAsset]),
            framesDir, FrameSchema, Seq("asset_id", "frame_index"))
          .localCheckpoint(true) // consumers: cross pairs, self pairs, append
        val pairs = ImageHash
          .incrementalVideoNearDupPairs(fresh, store, maxDist, minFrames)
          .unionByName(
            ImageHash.videoNearDupPairs(fresh, maxDist, minFrames))
        ParquetStore.appendNew(pairs, pairsDir, VideoPairSchema, AssetPairKeys)
        fresh.write.mode("append").parquet(framesDir)
        ()
      }

  /** q230's publish half: cut the video-corpus snapshot from the ingest
    * stores — the near-dup drop set from the accumulated pair log, then
    * the batch face's scene sampling + shard write
    * ([[graft.operators.ImageHash.videoCurationPipelineFrom]] —
    * literally the same code both faces run from stage 1 on). Returns
    * the 4-row funnel report; StreamingSpec asserts it equals the batch
    * q230 face row for row after scrambled-order ingestion. */
  def publishVideoCurationSnapshot(spark: SparkSession, framesDir: String,
      pairsDir: String, framesPerShard: Long = 64,
      shardDir: Option[String] = None): DataFrame =
    publishMediaSnapshot(spark, framesDir, FrameSchema, pairsDir,
      VideoPairSchema) { (frames, dupIds) =>
      graft.operators.ImageHash.videoCurationPipelineFrom(frames, dupIds,
        framesPerShard, shardDir = shardDir)
    }

  /** q234's streaming ingest half (the [[videoIngestSinkQuery]]
    * discipline at still-image level): each micro-batch of image assets
    * decodes + dHashes + reads its mean-luma ONCE (narrow — container
    * bytes never shuffle), then lands in two replay-idempotent stores:
    * the (asset_id, dhash, mean_luma) STAT store and the image-pair LOG
    * (batch×store cross pairs via
    * [[graft.operators.ImageHash.incrementalNearDupPairs]] + batch self
    * pairs — both normalized to (min, max), so the pair (a, b) is
    * complete at the LATER member's arrival regardless of order and the
    * log converges to the full-corpus q159 pair set). Publish time
    * ([[publishImageCurationSnapshot]]) derives the drop set from the
    * log and runs the batch face's stages 1–3 verbatim. */
  def imageIngestSinkQuery(assets: DataFrame, statsDir: String,
      pairsDir: String, maxDist: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mediaIngestSinkQuery(assets, statsDir, pairsDir, maxDist,
      graft.operators.ImageHash.imageHashStats, "mean_luma")

  /** q239's streaming ingest half (the [[imageIngestSinkQuery]]
    * discipline at audio level): each micro-batch of audio assets
    * decodes + energy-hashes + reads its per-window RMS ONCE, then lands
    * in the (asset_id, dhash, rms_w) STAT store and the pair LOG — the
    * pair machinery is modality-blind. Publish time
    * ([[publishAudioCurationSnapshot]]) derives the drop set from the
    * log and runs the batch face's stages 1–3 verbatim. */
  def audioIngestSinkQuery(assets: DataFrame, statsDir: String,
      pairsDir: String, maxDist: Int = 3): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mediaIngestSinkQuery(assets, statsDir, pairsDir, maxDist,
      graft.operators.ImageHash.audioHashStats, "rms_w")

  /** The still-media ingest body: the stat store keyed on asset_id,
    * holding (asset_id, dhash, `statCol`). Assets already in the store,
    * or repeated inside the batch, are dropped (K2) BEFORE pairing; pairs
    * append before stats (a crash between the two leaves the asset
    * un-ingested and the replay redoes both). */
  private def mediaIngestSinkQuery(assets: DataFrame, statsDir: String,
      pairsDir: String, maxDist: Int,
      hashStats: Dataset[graft.operators.Multimodal.MediaAsset] => DataFrame,
      statCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    assets.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.{ImageHash, Multimodal}
        val spark = batch.sparkSession
        import spark.implicits._
        val statSchema = longs("asset_id", "dhash", statCol)
        // read lazily (the videoIngestSinkQuery pattern): statsDir is
        // immutable until the append below
        val store = ParquetStore.readOrEmpty(spark, statsDir, statSchema)
        val fresh = ParquetStore.newRows(hashStats(batch.as[Multimodal.MediaAsset]),
            statsDir, statSchema, Seq("asset_id"))
          .localCheckpoint(true) // consumers: cross pairs, self pairs, append
        // self pairs already emit a1 < a2; cross pairs normalize via
        // least/greatest — the log's key is orientation-free either way
        val pairs = ImageHash.incrementalNearDupPairs(fresh, store, maxDist)
          .unionByName(ImageHash.nearDupImagePairs(fresh, maxDist))
        ParquetStore.appendNew(pairs, pairsDir, AssetPairSchema, AssetPairKeys)
        fresh.write.mode("append").parquet(statsDir)
        ()
      }

  /** q239's publish half: cut the audio-corpus snapshot from the ingest
    * stores — the [[publishImageCurationSnapshot]] discipline over the
    * audio funnel. */
  def publishAudioCurationSnapshot(spark: SparkSession, statsDir: String,
      pairsDir: String, assetsPerShard: Long = 64,
      shardDir: Option[String] = None): DataFrame =
    publishMediaSnapshot(spark, statsDir, longs("asset_id", "dhash", "rms_w"),
      pairsDir, AssetPairSchema) { (stats, dupIds) =>
      graft.operators.ImageHash.audioCurationPipelineFrom(stats, dupIds,
        assetsPerShard, shardDir = shardDir)
    }

  /** q234's publish half: cut the image-corpus snapshot from the ingest
    * stores — the near-dup drop set from the accumulated pair log, then
    * the batch face's quality gate + shard write
    * ([[graft.operators.ImageHash.imageCurationPipelineFrom]] —
    * literally the same code both faces run from stage 1 on). Returns
    * the 4-row funnel report; StreamingSpec asserts it equals the batch
    * q234 face row for row after scrambled-order ingestion. */
  def publishImageCurationSnapshot(spark: SparkSession, statsDir: String,
      pairsDir: String, assetsPerShard: Long = 64,
      shardDir: Option[String] = None): DataFrame =
    publishMediaSnapshot(spark, statsDir, longs("asset_id", "dhash", "mean_luma"),
      pairsDir, AssetPairSchema) { (stats, dupIds) =>
      graft.operators.ImageHash.imageCurationPipelineFrom(stats, dupIds,
        assetsPerShard, shardDir = shardDir)
    }

  /** The media publish body: the drop set is every pair log's HIGHER
    * asset (`a2`); `pipeline` runs the batch face over (store, drop set). */
  private def publishMediaSnapshot(spark: SparkSession, storeDir: String,
      storeSchema: StructType, pairsDir: String, pairSchema: StructType)(
      pipeline: (DataFrame, DataFrame) => DataFrame): DataFrame =
    pipeline(ParquetStore.readOrEmpty(spark, storeDir, storeSchema),
      ParquetStore.readOrEmpty(spark, pairsDir, pairSchema)
        .select(col("a2").as("asset_id")).distinct())

  /** Watermarked stream-stream join: correlate two event streams per user
    * within a bounded interval (right event no earlier than the left, at
    * most `within` later). Both sides carry watermarks so join state is
    * bounded — the streaming form of the FK correlation the provenance
    * tables do in batch (J1). */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_event"), col("event_type").as("l_type"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_event"), col("event_type").as("r_type"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
  }

  case class EmbeddingEvent(doc_id: Long, emb: Seq[Double])
  case class CentroidUpdate(centroid_id: Int, n: Long, mean: Seq[Double])
  /** Internal running-sum state for [[incrementalCentroids]] (public only
    * because the state encoder's codegen needs public accessors). */
  case class CentroidState(n: Long, sum: Array[Double])

  /** Streaming IVF maintenance: keep each coarse-quantizer centroid's
    * running mean current as embeddings arrive, so the ANN index
    * (`Similarity.ivfTopK`'s posting lists) can be re-centered without a
    * full batch k-means re-run.
    *
    * Each embedding is assigned to its nearest INITIAL centroid inside the
    * map (the centroid array is a small broadcast-sized constant — k × dim
    * doubles), then `mapGroupsWithState` keyed by centroid id folds an
    * exact running (count, sum) — state is one vector per centroid, O(k ×
    * dim) TOTAL regardless of stream length, and each micro-batch shuffles
    * only by centroid key. Emits the updated running mean per touched
    * centroid in Update mode. NoTimeout: centroid state is permanent by
    * design (it IS the index), not session-scoped. */
  def incrementalCentroids(
      embs: Dataset[EmbeddingEvent],
      init: Array[Array[Double]]): Dataset[CentroidUpdate] = {
    import embs.sparkSession.implicits._
    val dim = init.head.length
    embs
      .map { e =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < init.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val x = e.emb(i) - init(c)(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        (best, e.emb)
      }
      .groupByKey(_._1)
      .mapGroupsWithState[CentroidState, CentroidUpdate](GroupStateTimeout.NoTimeout) {
        case (cid, rows, state) =>
          val s = state.getOption.getOrElse(CentroidState(0L, new Array[Double](dim)))
          var n = s.n
          val sum = s.sum.clone()
          rows.foreach { case (_, emb) =>
            var i = 0
            while (i < dim) { sum(i) += emb(i); i += 1 }
            n += 1
          }
          state.update(CentroidState(n, sum))
          CentroidUpdate(cid, n, sum.map(_ / n).toSeq)
      }
  }

  /** Latest mean per centroid from an update log — the shape a foreachBatch
    * sink of [[incrementalCentroids]] lands (Update mode re-emits a row per
    * touched centroid per batch; highest `n` = most recent). Output
    * (cluster_id, cemb) plugs directly into
    * [[graft.operators.Similarity.ivfTopKWith]], closing the streaming
    * index-refresh loop. */
  def latestCentroids(updates: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("centroid_id").orderBy(col("n").desc)
    updates
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("centroid_id").cast("int").as("cluster_id"),
        col("mean").as("cemb"))
  }

  /** T4 reconciliation batch (dossier :85–91, :245–252): reissued upstream
    * artifacts are rows whose key matches but whose content hash changed —
    * join stored vs fresh on the idempotency key, keep hash mismatches as
    * the reprocess set. */
  case class KeyedContent(key: Long, sha256: String, ts: java.sql.Timestamp)
  case class ContentChange(key: Long, old_sha256: String, new_sha256: String)

  /** T4 as a STREAM, on the arbitrary-state v2 API (`transformWithState`,
    * Spark 4): per-key last-content-hash in a `ValueState`, emitting a row
    * only when a key's hash CHANGES — re-delivered identical upstream rows
    * are swallowed without any join against the stored table. State is
    * TTL-bounded (RocksDB column families under the hood), so keys idle
    * longer than `ttl` age out instead of accumulating forever — the
    * explicit-TTL control that `mapGroupsWithState` timeouts only
    * approximate. First sight of a key emits with old_sha256 = "" (it IS
    * a change); callers filter if they want strict re-issues only. */
  class ChangeDetector(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, KeyedContent, ContentChange] {
    @transient private var lastHash: org.apache.spark.sql.streaming.ValueState[String] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastHash = getHandle.getValueState[String]("lastHash",
        org.apache.spark.sql.Encoders.STRING,
        ttl.map(org.apache.spark.sql.streaming.TTLConfig(_))
          .getOrElse(org.apache.spark.sql.streaming.TTLConfig.NONE))

    override def handleInputRows(
        key: Long,
        rows: Iterator[KeyedContent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ContentChange] = {
      // fold the micro-batch's rows for this key in event-time order so a
      // batch carrying [old, new] emits exactly the final transition
      val out = scala.collection.mutable.ArrayBuffer.empty[ContentChange]
      rows.toSeq.sortBy(r => (r.ts.getTime, r.sha256)).foreach { r =>
        val prev = if (lastHash.exists()) lastHash.get() else ""
        if (r.sha256 != prev) {
          out += ContentChange(key, prev, r.sha256)
          lastHash.update(r.sha256)
        }
      }
      out.iterator
    }
  }

  /** q137's streaming twin: trailing-window event anomaly at ingest.
    * Input is the HOURLY COUNT stream the tested windowed-agg faces
    * already produce ((event_type, hr, c) — hr = hour index,
    * unix_seconds/3600); per event type a `MapState[hr → c]` holds
    * exactly the trailing `trailHours` baseline (evicted past the
    * newest processed hour, so state is O(trailHours) per key —
    * RocksDB column families under the hood), and each arriving hour
    * scores against the hours PRESENT in its [hr−trail, hr−1] window:
    * gaps empty the baseline, the batch face's exact semantics. All
    * statistics fold EXACT INTEGER sums (Σc, Σc²) — the q137
    * discipline — and the mean/sd/z/rounding replay the batch
    * expressions operation for operation, so StreamingSpec pins the
    * twin window-for-window EQUAL to [[graft.operators.EventAnalytics
    * .eventAnomaly]], not merely close.
    *
    * Late-data contract (cross-batch): a persisted high-water mark
    * gates admission. Rows older than maxSeen − trailHours are DROPPED
    * (their baseline is permanently evicted — a score would be silently
    * wrong); rows inside the trailing window still score, with
    * edge-of-window baseline hours possibly already evicted (n_trail
    * can only shrink, never fabricate). Monotone hourly input — what
    * the upstream windowed agg emits — never hits either path. */
  case class HourlyTypeCount(event_type: String, hr: Long, c: Long)
  case class AnomalyRow(event_type: String, hr: Long, c: Long, n_trail: Long,
      trail_mean: Option[Double], trail_sd: Option[Double], z: Option[Double],
      anomaly: Boolean)

  class AnomalyScorer(trailHours: Int, minTrail: Int, zThresh: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, HourlyTypeCount, AnomalyRow] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var maxSeen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long]("hourCounts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      maxSeen = getHandle.getValueState[Long]("maxHrSeen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    private def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    override def handleInputRows(
        key: String,
        rows: Iterator[HourlyTypeCount],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[AnomalyRow] = {
      // hr-ascending fold: a micro-batch carrying several hours scores
      // each against exactly the hours before it, as the batch face does
      val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyRow]
      // cross-batch high-water mark: eviction below hiWater − trailHours
      // is permanent, so a row arriving BELOW that line has no baseline
      // left at all — emitting a score would silently diverge from the
      // batch face (possibly flipping `anomaly`). Such rows are DROPPED,
      // not mis-scored. Rows in [hiWater − trailHours, hiWater) still
      // score, with the documented caveat that already-evicted hours at
      // the window's left edge may shrink n_trail vs the batch face;
      // hr-monotone input (what the hourly-agg upstream produces) never
      // enters either regime.
      val hiWater = if (maxSeen.exists()) maxSeen.get() else Long.MinValue
      var maxHr = hiWater
      rows.toSeq.sortBy(_.hr)
        .filter(r => hiWater == Long.MinValue || r.hr >= hiWater - trailHours)
        .foreach { r =>
        var sumC = 0L; var sumC2 = 0L; var n = 0L
        counts.iterator().foreach { case (h, c) =>
          if (h >= r.hr - trailHours && h <= r.hr - 1) {
            sumC += c; sumC2 += c * c; n += 1
          }
        }
        val ok = n >= minTrail
        if (!ok) out += AnomalyRow(key, r.hr, r.c, n, None, None, None, anomaly = false)
        else {
          val m = sumC.toDouble / n
          val sd = math.sqrt((n * sumC2 - sumC * sumC).toDouble / (n * (n - 1)))
          val z = if (sd == 0.0) None else Some(r6((r.c.toDouble - m) / sd))
          out += AnomalyRow(key, r.hr, r.c, n, Some(r6(m)), Some(r6(sd)), z,
            anomaly = z.exists(v => math.abs(v) >= zThresh))
        }
        counts.updateValue(r.hr, r.c)
        maxHr = math.max(maxHr, r.hr)
      }
      // evict hours that can never again fall inside an ADMITTED row's
      // trailing window (admission is cut against the same high-water
      // mark, so eviction and the late-row gate agree by construction)
      if (maxHr != Long.MinValue) {
        counts.keys().toSeq.filter(_ < maxHr - trailHours)
          .foreach(counts.removeKey)
        maxSeen.update(maxHr)
      }
      out.iterator
    }
  }

  /** Wire [[AnomalyScorer]] over an hourly-count stream. Same RocksDB +
    * TimeMode notes as [[contentChanges]]. */
  def hourlyAnomalyStream(hourly: Dataset[HourlyTypeCount],
      trailHours: Int = 24, minTrail: Int = 12,
      zThresh: Double = 2.0): DataFrame = {
    import hourly.sparkSession.implicits._
    hourly.groupByKey(_.event_type)
      .transformWithState(new AnomalyScorer(trailHours, minTrail, zThresh),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Wire [[ChangeDetector]] over a stream of (key, sha256, ts) rows.
    * Requires the RocksDB state store (transformWithState needs column
    * families): set
    * `spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider`.
    *
    * TTL demands `TimeMode.ProcessingTime` (the v2 API only expires
    * against a clock) — pass `ttl = None` for clockless tests:
    * processing-time-driven state ops stall `processAllAvailable()`
    * (same hazard as flatMapGroupsWithState's ProcessingTimeTimeout). */
  def contentChanges(
      keyed: org.apache.spark.sql.Dataset[KeyedContent],
      ttl: Option[java.time.Duration] = Some(java.time.Duration.ofDays(7))): DataFrame = {
    import keyed.sparkSession.implicits._
    val timeMode =
      if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
      else org.apache.spark.sql.streaming.TimeMode.None()
    keyed.groupByKey(_.key)
      .transformWithState(new ChangeDetector(ttl), timeMode, OutputMode.Append())
      .toDF()
  }

  def reconcile(stored: DataFrame, fresh: DataFrame, key: String): DataFrame =
    fresh.as("f")
      .join(stored.as("s"), col(s"f.$key") === col(s"s.$key"), "inner")
      .filter(col("f.sha256") =!= col("s.sha256"))
      .select(col(s"f.$key").as(key), col("s.sha256").as("old_sha256"),
        col("f.sha256").as("new_sha256"))

  /** Streaming read of the events table shape from a parquet directory
    * (real deployments point this at an arriving-file landing zone).
    *
    * Normalizes `ts` to session-zoned TimestampType exactly like the batch
    * loader ([[Tables.events]]) — the driver's testdata has shipped both
    * int64-nanos and timestamp[us] encodings, and the streaming face must
    * absorb the same drift the batch face does (r9 regression class). */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema).parquet(dir)
    schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events stream ts has unsupported physical type $other")
    }
  }

  /** Batch-expressible window queries for the oracle gate: the same
    * event-time semantics the streaming operators use, checked vs DuckDB. */
  /** Watermark-lateness audit (q188): for each candidate watermark on a
    * fixed ladder, how many landed events would be DROPPED because they
    * arrived later than the watermark allows — the measurement that
    * picks `withWatermark`'s delay for q33/q36/q75 instead of guessing.
    * Lateness of an event = (max event-time seen earlier in ARRIVAL
    * order, i.e. smaller event_id) − its own event time, floored at 0.
    *
    * The running maximum is computed HIERARCHICALLY (the q121 exclusive
    * prefix-sum discipline applied to MAX): within-bucket running max
    * over event_id-div-B buckets + an exclusive prefix max over the
    * bucket-max table — never a no-partition window that collapses the
    * stream onto one partition. The oracle's global window proves the
    * decomposition exact. Ladder comparisons are on µs-exact second
    * diffs; everything after the per-bucket windows is ladder-sized. */
  def watermarkLatenessAudit(events: DataFrame,
      ladderSec: Seq[Long] = Seq(0L, 10L, 60L, 600L, 3600L, 86400L),
      bucketSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = events.select(col("event_id"), col("ts"))
      .withColumn("bkt", expr(s"event_id div $bucketSize"))
    val wIn = Window.partitionBy("bkt").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withinMax = b.withColumn("in_max", max(col("ts")).over(wIn))
    val bucketMax = b.groupBy("bkt").agg(max(col("ts")).as("bmax"))
      .withColumn("prior_bmax", max(col("bmax")).over(
        Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("prior_bmax"))
    val late = withinMax.join(bucketMax, Seq("bkt"))
      .select(greatest(lit(0.0),
        coalesce(greatest(col("in_max"), col("prior_bmax")),
          col("in_max"), col("prior_bmax")).cast("double")
          - col("ts").cast("double")).as("late_s"))
    latenessLadder(late, ladderSec)
  }

  /** The ladder aggregation over a (late_s) frame — shared by the batch
    * audit above and the streaming tracker's output. */
  def latenessLadder(late0: DataFrame,
      ladderSec: Seq[Long] = Seq(0L, 10L, 60L, 600L, 3600L, 86400L)): DataFrame = {
    val late = late0.select("late_s")
      .localCheckpoint(eager = false) // consumers: ladder counts + total
    val total = late.agg(count(lit(1)).as("n_events"))
    val spark = late0.sparkSession
    import spark.implicits._
    val ladderDf = ladderSec.toDF("watermark_s")
    late.select(explode(array(ladderSec.map(lit(_)): _*)).as("watermark_s"),
        col("late_s"))
      .filter(col("late_s") > col("watermark_s"))
      .groupBy("watermark_s").agg(count(lit(1)).as("n_dropped"))
      .join(ladderDf, Seq("watermark_s"), "right")
      .crossJoin(broadcast(total))
      .select(col("watermark_s"), coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double") / col("n_events"), 6)
          .as("drop_share"))
      .orderBy("watermark_s")
  }

  /** q188's streaming twin: per-event lateness AT INGEST. One
    * `ValueState[Long]` holds the running event-time maximum in
    * microseconds — O(1) state, the same quantity Spark's own watermark
    * machinery tracks — and every arriving event emits its lateness
    * against the max BEFORE it (arrival order = micro-batch delivery
    * order, event_id within a batch, matching the batch audit's
    * definition on an event_id-ordered feed). The division replays the
    * batch face's arithmetic exactly (each micros value scales to
    * double seconds BEFORE the subtraction), so StreamingSpec pins the
    * streamed ladder EQUAL to [[watermarkLatenessAudit]]. */
  case class EventLateness(event_id: Long, late_s: Double)

  class LatenessTracker
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Long, Long), EventLateness] {
    @transient private var maxMicros: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      maxMicros = getHandle.getValueState[Long]("maxMicros",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Int,
        rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[EventLateness] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[EventLateness]
      rows.toSeq.sortBy(_._1).foreach { case (id, ts) =>
        val prev = if (maxMicros.exists()) Some(maxMicros.get()) else None
        val late = prev.fold(0.0)(p => math.max(0.0, p / 1e6 - ts / 1e6))
        out += EventLateness(id, late)
        if (prev.forall(_ < ts)) maxMicros.update(ts)
      }
      out.iterator
    }
  }

  /** Wire [[LatenessTracker]] over an event stream (same RocksDB +
    * TimeMode notes as [[contentChanges]]). */
  def latenessStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), unix_micros(col("ts")).as("tsm"))
      .as[(Long, Long)]
      .groupByKey(_ => 0)
      .transformWithState(new LatenessTracker,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- watermark-lateness audit: dropped-event counts per candidate
    //      watermark from the landed stream's arrival order; the
    //      oracle's global window proves the hierarchical prefix-max. ----
    "q188_watermark_lateness" -> QueryDef.sql(
      """WITH o AS (SELECT event_id, ts,
        |    max(ts) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
        |  FROM events),
        |l AS (SELECT greatest(0.0,
        |        coalesce(epoch(prior_max) - epoch(ts), 0.0)) AS late_s FROM o),
        |lad AS (SELECT CAST(unnest([0, 10, 60, 600, 3600, 86400]) AS BIGINT) AS watermark_s),
        |d AS (SELECT watermark_s, count(*) AS n_dropped
        |      FROM lad JOIN l ON late_s > watermark_s GROUP BY 1),
        |t AS (SELECT count(*) AS n_events FROM l)
        |SELECT watermark_s, coalesce(n_dropped, 0) AS n_dropped,
        |  round(CAST(coalesce(n_dropped, 0) AS DOUBLE) / n_events, 6) AS drop_share
        |FROM lad LEFT JOIN d USING (watermark_s) CROSS JOIN t
        |ORDER BY watermark_s""") { (s, dir) =>
      watermarkLatenessAudit(Tables.events(s, dir))
    },

    "q36_tumbling_window" -> QueryDef.sql(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },

    "q37_sliding_window" -> QueryDef.sql(
      """WITH g AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE]) AS window_start,
        |    event_id, value
        |  FROM events)
        |SELECT window_start, count(*) AS n
        |FROM g GROUP BY window_start
        |ORDER BY window_start""") { (s, dir) =>
      // 1h windows sliding by 30m: each event lands in exactly 2 windows
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"), col("n"))
        .orderBy("window_start")
    },

    // ---- session windows: per-user sessions closed by a 6h inactivity
    //      gap. Spark side is the NATIVE session_window aggregation (one
    //      shuffle by user, sessions merged inside the aggregate — the
    //      same operator [[sessionWindowCounts]] runs in Structured
    //      Streaming, so batch and streaming share semantics); the oracle
    //      derives identical sessions the declarative way via
    //      gaps-and-islands (lag + running sum). Spark opens a new
    //      session when the gap is >= the timeout, hence `>=` in the
    //      oracle's new-session predicate. ----
    "q75_session_window" -> QueryDef.sql(
      """WITH l AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 21600000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM l)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_start""") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(min(col("ts")).cast("timestamp_ntz").as("session_start"),
          max(col("ts")).cast("timestamp_ntz").as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    },

    "q38_reconcile_hash_diff" -> QueryDef.sql(
      """WITH stored AS (
        |  SELECT doc_id, sha256(text) AS sha256 FROM documents),
        |fresh AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END) AS sha256
        |  FROM documents)
        |SELECT f.doc_id AS doc_id, s.sha256 AS old_sha256, f.sha256 AS new_sha256
        |FROM fresh f JOIN stored s ON f.doc_id = s.doc_id
        |WHERE f.sha256 != s.sha256
        |ORDER BY doc_id""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val stored = docs.select(col("doc_id"), sha2(col("text"), 256).as("sha256"))
      val fresh = docs.select(col("doc_id"),
        sha2(when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")), 256).as("sha256"))
      reconcile(stored, fresh, "doc_id").orderBy("doc_id")
    }
  )
}
