package graft.streaming

import scala.util.Using
import graft.ParquetStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-incremental watermark sync — the T2/T3 contract (reference dossier
  * :224–241, :692–725) in its batch form:
  *
  *   1. read the persisted watermark W (checkpoint hook, base.py:32–34)
  *   2. take incoming rows with ts >= W - overlap (re-read the overlap
  *      window to catch late re-issues)
  *   3. anti-join stored keys (the K2 idempotency rule) so the overlap
  *      never duplicates
  *   4. append survivors, advance W to max(ts) observed
  *
  * State layout under `stateDir`: `data/` (parquet) + `watermark` (epoch
  * micros text), both read and written through the state dir's Hadoop
  * FileSystem, so an hdfs:// or s3a:// state dir behaves as a local one.
  * At scale, `data/` is a partitioned table and the anti-join runs
  * against only the partitions inside the overlap horizon — bounded work
  * regardless of history size.
  */
object WatermarkSync {

  case class SyncResult(appended: Long, watermarkMicros: Long)

  private def wmPath(spark: SparkSession, stateDir: String): (FileSystem, Path) = {
    val p = new Path(stateDir, "watermark")
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
  private def dataPath(stateDir: String) = s"$stateDir/data"

  def readWatermark(stateDir: String,
      spark: SparkSession = SparkSession.active): Option[Long] = {
    val (fs, p) = wmPath(spark, stateDir)
    if (fs.exists(p))
      Some(Using.resource(fs.open(p))(in => new String(in.readAllBytes(), "UTF-8")).trim.toLong)
    else None
  }

  /** Partition column of the landed table — `data/` is laid out as
    * `sync_date=YYYY-MM-DD/` so horizon reads prune at the directory level. */
  val partitionCol = "sync_date"

  def stored(spark: SparkSession, stateDir: String): Option[DataFrame] =
    if (ParquetStore.exists(spark, dataPath(stateDir)))
      Some(spark.read.parquet(dataPath(stateDir)))
    else None

  /** Landed rows whose partition can still collide with an incoming row:
    * only partitions dated on/after `watermark - overlap` are read — the
    * anti-join's stored side is O(overlap window), not O(history). */
  def storedWithinHorizon(
      spark: SparkSession,
      stateDir: String,
      wmMicros: Long,
      overlap: String): Option[DataFrame] =
    stored(spark, stateDir).map(_.filter(
      col(partitionCol) >=
        to_date(timestamp_micros(lit(wmMicros)) - expr(s"INTERVAL $overlap"))))

  /** One sync batch. `incoming` must carry `tsCol` (timestamp) and
    * `keyCols`; rows whose key already landed are dropped (reissues with
    * the SAME key are deduped — hash-diff reissue handling is
    * [[Streams.reconcile]]'s job, a separate reconciliation pass).
    *
    * Per-batch work is bounded: the incoming side is filtered to the
    * overlap horizon, the stored side of the anti-join prunes to the
    * horizon's date partitions, and the watermark advances as
    * `max(previous, batch max)` — no full-history scan anywhere. */
  def syncBatch(
      spark: SparkSession,
      incoming: DataFrame,
      stateDir: String,
      tsCol: String,
      keyCols: Seq[String],
      overlap: String = "48 hours"): SyncResult = {
    val prevWm = readWatermark(stateDir, spark)
    val horizon = prevWm match {
      case Some(wm) =>
        incoming.filter(
          col(tsCol) >= timestamp_micros(lit(wm)) - expr(s"INTERVAL $overlap"))
      case None => incoming
    }
    val existing = prevWm match {
      case Some(wm) => storedWithinHorizon(spark, stateDir, wm, overlap)
      case None     => stored(spark, stateDir)
    }
    val fresh = existing match {
      case Some(ex) =>
        horizon.join(ex.select(keyCols.map(col): _*).dropDuplicates(),
          keyCols, "left_anti")
      case None => horizon
    }
    val deduped = fresh.dropDuplicates(keyCols).cache()
    try {
      // one pass over the batch: row count + max event time together
      val stats = deduped
        .agg(count(lit(1)), max(unix_micros(col(tsCol)))).head()
      val n = stats.getLong(0)
      if (n > 0)
        deduped.withColumn(partitionCol, to_date(col(tsCol)))
          .write.mode(SaveMode.Append).partitionBy(partitionCol)
          .parquet(dataPath(stateDir))
      val batchMax = if (stats.isNullAt(1)) None else Some(stats.getLong(1))
      val newWm = (prevWm ++ batchMax).maxOption
      newWm.foreach { wm =>
        val (fs, p) = wmPath(spark, stateDir)
        Using.resource(fs.create(p, true))(_.write(wm.toString.getBytes("UTF-8")))
      }
      SyncResult(n, newWm.getOrElse(Long.MinValue))
    } finally deduped.unpersist()
  }
}
