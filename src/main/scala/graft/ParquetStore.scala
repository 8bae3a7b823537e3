package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The on-disk rules of every append-only parquet store: the provenance
  * tables ([[graft.pipeline.ProvenanceStore]]), the streaming sinks'
  * stores and pair logs ([[graft.streaming.Streams]]), and the relations
  * of [[graft.operators.DedupIndex]] and [[graft.operators.SubstrDupStore]].
  *
  * - Every entry restores a stranded swap first ([[restoreIfStranded]]).
  * - Existence goes through the path's Hadoop FileSystem: a
  *   `java.io.File` check is always false on hdfs:// or s3a:// stores and
  *   would read an existing store as empty.
  * - Appends are K2, the reference's INSERT OR IGNORE on a UNIQUE key
  *   (storage/db.py:64–83): [[newRows]] drops in-batch duplicates, then
  *   anti-joins the store's keys, so a replayed batch lands nothing.
  * - Rewrites go aside and swap in ([[swap]]): a reader sees the old or
  *   the new directory, never a mix.
  */
object ParquetStore {

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val dir = new Path(path)
    (dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  /** Aside-write-and-swap: dir → `.compact-old`, tmp → dir, delete old.
    * Each rename is atomic on HDFS-like stores (object stores without
    * atomic rename should compact into a fresh prefix instead); if the
    * second rename fails, the original directory is rolled back into
    * place before throwing, so the store never reads as empty. */
  private[graft] def swapCompacted(fs: FileSystem, dir: Path, tmp: Path): Unit = {
    val old = new Path(dir.toString + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a crashed run
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"compaction swap failed for $dir (dir -> compact-old)")
    if (!fs.rename(tmp, dir)) {
      if (!fs.rename(old, dir))
        throw new java.io.IOException(
          s"compaction swap failed for $dir AND rollback failed — data is at $old")
      throw new java.io.IOException(s"compaction swap failed for $dir (rolled back)")
    }
    fs.delete(old, true)
  }

  /** Crash recovery for the swap: a process that died between the two
    * renames leaves the directory missing and the data stranded at
    * `.compact-old`; the restore is the same single atomic rename. A
    * crash AFTER the second rename (dir and `.compact-old` both present)
    * needs no restore — the stale `.compact-old` is deleted by the next
    * swap. Must run before anything reads, appends to or swaps the
    * store: an append to the missing directory would start a new store
    * that the next swap then pairs with the deletion of the old data. */
  private[graft] def restoreIfStranded(fs: FileSystem, dir: Path): Unit = {
    val old = new Path(dir.toString + ".compact-old")
    if (!fs.exists(dir) && fs.exists(old) && !fs.rename(old, dir))
      throw new java.io.IOException(s"table $dir is stranded at $old and restore failed")
  }

  private[graft] def restoreIfStranded(spark: SparkSession, path: String): Unit = {
    val (fs, dir) = fsOf(spark, path)
    restoreIfStranded(fs, dir)
  }

  /** The store's top-level parquet data files, after a restore. */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Array[FileStatus] = {
    restoreIfStranded(fs, dir)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  private[graft] def dataFileCount(spark: SparkSession, path: String): Int = {
    val (fs, dir) = fsOf(spark, path)
    dataFiles(fs, dir).length
  }

  /** Whether the store exists, after a restore. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, dir) = fsOf(spark, path)
    restoreIfStranded(fs, dir)
    fs.exists(dir)
  }

  /** The store read with its declared schema, or an empty frame of that
    * schema when the store does not exist yet. */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (exists(spark, path)) spark.read.schema(schema).parquet(path) else empty(spark, schema)

  /** An empty frame of a store's schema (a store not written yet). */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** K2: the rows of `rows` whose `keys` are neither repeated earlier in
    * `rows` nor present in the store. */
  def newRows(rows: DataFrame, path: String, schema: StructType,
      keys: Seq[String]): DataFrame =
    rows.dropDuplicates(keys)
      .join(readOrEmpty(rows.sparkSession, path, schema).select(keys.map(col): _*),
        keys, "left_anti")

  /** Dedup-append: land [[newRows]] in the store. */
  def appendNew(rows: DataFrame, path: String, schema: StructType,
      keys: Seq[String]): Unit =
    newRows(rows, path, schema, keys).write.mode(SaveMode.Append).parquet(path)

  /** Write `df` aside and swap it in as the store at `path`. `sidecar`
    * may add files to the aside directory, so they commit with the data
    * in the same rename. */
  def swap(path: String, df: DataFrame,
      sidecar: (FileSystem, Path) => Unit = (_, _) => ()): Unit = {
    val (fs, dir) = fsOf(df.sparkSession, path)
    val tmp = new Path(s"$path.compact-tmp")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    sidecar(fs, tmp)
    swapCompacted(fs, dir, tmp)
  }

  /** Fold `fresh` into a store that is kept whole, not appended to:
    * write `fresh` when the store is absent, else write
    * `merge(stored, fresh)` aside and swap it in. The merge is read fully
    * (eager checkpoint) before the swap moves its input. */
  def swapMerge(path: String, fresh: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = fresh.sparkSession
    if (!exists(spark, path)) fresh.write.parquet(path)
    else swap(path, merge(spark.read.parquet(path), fresh).localCheckpoint(eager = true))
  }

  /** Result of a [[compact]] run. */
  final case class CompactionStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Small-file compaction: every append writes its own files, and
    * listing, footer probes and readers degrade O(files). Rewrites the
    * store into `ceil(rows / targetRowsPerFile)` files laid out by
    * `layout` (default: an even repartition) and swaps them in. Rows are
    * identical before and after. `schema` reads the store with its
    * declared schema; `sidecar` as in [[swap]]. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long,
      schema: Option[StructType] = None,
      layout: (DataFrame, Int) => DataFrame = (df, n) => df.repartition(n),
      sidecar: (FileSystem, Path) => Unit = (_, _) => ()): CompactionStats = {
    val before = dataFileCount(spark, path)
    if (before == 0) return CompactionStats(0, 0, 0L)
    val df = schema.fold(spark.read)(spark.read.schema).parquet(path)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    swap(path, layout(df, nFiles), sidecar)
    CompactionStats(before, dataFileCount(spark, path), rows)
  }
}
