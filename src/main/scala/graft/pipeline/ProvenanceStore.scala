package graft.pipeline

import graft.ParquetStore
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed `responses` / `artifacts` provenance tables
  * (reference storage/db.py:6–31), with:
  *
  * - K1 id assignment, two schemes (SCALING.md "Ingest spine"):
  *   - [[ProvenanceStore.IdMode.Partitioned]] (default): unique ids packed
  *     from (partition_id, row_in_partition) via
  *     `monotonically_increasing_id`, offset past the table's current max —
  *     no shuffle, no global sort; each task stamps its own rows, so the
  *     append path scales with the cluster. Ids are unique and
  *     FK-join-safe but NOT contiguous (runs leave gaps).
  *   - [[ProvenanceStore.IdMode.Contiguous]]: SQLite-AUTOINCREMENT parity —
  *     `row_number` over a DECLARED ordering (provider, item_index, stage,
  *     url) offset by the current max id. Deterministic and contiguous,
  *     but a global sort funnels every appended row through one task:
  *     acceptable at single-box provenance cardinality, a scale-killer at
  *     100 TB ingest, hence opt-in only.
  * - K2 dedup append: `dropDuplicates + left_anti` against the existing
  *   table = the reference's INSERT OR IGNORE on UNIQUE(source_url, sha256)
  *   (storage/db.py:76; dossier :266 idempotency rule).
  *
  * Read paths: the internal reads here stay on Spark's vectorized parquet
  * reader (fastest for the append path's full-column scans); external
  * consumers get the DSv2 face with filter/column pushdown via
  * `spark.read.format("graft-provenance")` ([[graft.sources.ProvenanceDataSource]]).
  */
final class ProvenanceStore(
    spark: SparkSession,
    warehouseDir: String,
    idMode: ProvenanceStore.IdMode = ProvenanceStore.IdMode.Partitioned) {

  import ProvenanceStore.IdMode

  private val responsesPath = s"$warehouseDir/responses"
  private val artifactsPath = s"$warehouseDir/artifacts"

  def responses: DataFrame =
    ParquetStore.readOrEmpty(spark, responsesPath, Model.responsesSchema)

  def artifacts: DataFrame =
    ParquetStore.readOrEmpty(spark, artifactsPath, Model.artifactsSchema)

  /** Current max id via the DSv2 face's aggregate pushdown: answered from
    * parquet footer STATISTICS (one metadata read per file, zero data
    * pages) — the append path's base-id probe stays O(files), not O(rows),
    * as the table grows. [[graft.sources.ProvenanceDataSource]] falls back
    * to a column scan per-file if stats are ever absent. Both scans list
    * files through [[graft.ParquetStore.dataFiles]], so a stranded table
    * is restored before its max is read. */
  private def maxId(table: String): Long =
    spark.read.format("graft-provenance")
      .option("warehouse", warehouseDir).option("table", table).load()
      .agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)

  private def withIdColumn(rows: DataFrame, base: Long, orderCols: Seq[String]): DataFrame =
    ProvenanceStore.withIdColumn(rows, base, orderCols, idMode)

  private def pinIds(stamped: DataFrame): DataFrame =
    ProvenanceStore.pinIds(stamped, idMode)

  /** Append response rows, assigning unique ids after the current max.
    * Input columns: provider, method, url, params_json, status_code,
    * headers_json, body, item_index, stage (ordering keys).
    * Returns the appended rows WITH ids (for FK propagation, J1/J2). */
  def appendResponses(rows: DataFrame): DataFrame = {
    val base = maxId("responses")
    val withIds = pinIds(withIdColumn(rows, base,
      Seq("provider", "item_index", "stage", "url"))
      .withColumn("created_at", current_timestamp())
      .select(Model.responsesSchema.fieldNames.toIndexedSeq.map(col) :+ col("item_index") :+ col("stage"): _*))
    withIds.drop("item_index", "stage")
      .write.mode(SaveMode.Append).parquet(responsesPath)
    withIds
  }

  /** Dedup-append artifacts on (source_url, sha256); returns only the rows
    * actually inserted (the reference returns None for dups,
    * storage/db.py:64–83). Input: provider, source_url, sha256, bytes,
    * blob_path, response_id.
    *
    * Materialize-once, strongest form (round-6 ADVICE): the write is the
    * ONLY consumer of the nondeterministically-stamped frame, and the rows
    * handed back to the caller are RE-READ from the parquet just written
    * (`id > base`), so the returned ids are the durable ids by
    * construction — no reliance on cached/checkpointed blocks surviving.
    * (`appendResponses` can't use this form: its return carries
    * item_index/stage, which are not part of the persisted schema, so it
    * pins via eager localCheckpoint instead — a lost block there fails
    * loudly rather than diverging silently.) */
  def appendArtifacts(rows: DataFrame): DataFrame = {
    val base = maxId("artifacts")
    val fresh = ParquetStore.newRows(rows, artifactsPath, Model.artifactsSchema,
      Seq("source_url", "sha256"))
    val withIds = withIdColumn(fresh, base,
      Seq("provider", "source_url", "sha256"))
      .withColumn("created_at", current_timestamp())
      .select(Model.artifactsSchema.fieldNames.toIndexedSeq.map(col): _*)
    withIds.write.mode(SaveMode.Append).parquet(artifactsPath)
    artifacts.filter(col("id") > base)
  }

  /** Small-file compaction (maintenance job) through
    * [[graft.ParquetStore.compact]]. Both the footer-stats `maxId` probe
    * and the DSv2 runtime-filter pruning are O(files). The files are
    * RANGE-PARTITIONED AND SORTED on `id`: per-file id ranges become
    * disjoint, so any id-predicate (FK runtime filters, incremental
    * `id > base` reads) prunes to exactly the files it needs from footer
    * min/max alone. Rows, ids, and schema are byte-identical
    * before/after. */
  def compact(table: String, targetRowsPerFile: Long = 4000000L): ParquetStore.CompactionStats = {
    require(table == "responses" || table == "artifacts", s"unknown table '$table'")
    val (path, schema) =
      if (table == "responses") (responsesPath, Model.responsesSchema)
      else (artifactsPath, Model.artifactsSchema)
    ParquetStore.compact(spark, path, targetRowsPerFile, Some(schema),
      layout = (df, n) => df.repartitionByRange(n, col("id")).sortWithinPartitions("id"),
      sidecar = { (fs, tmp) =>
        // Sorted-layout manifest (`_graft_sorted`): the data-file basenames
        // this compaction produced, one per line. The DSv2 scan reports
        // per-partition ASC `id` ordering ONLY while the directory's file set
        // still equals this list — any later append changes the set and
        // silently withdraws the claim (no append-path cooperation needed).
        // Written into the aside dir so marker and files appear atomically
        // together; underscore prefix keeps it invisible to parquet readers.
        val sortedFiles = fs.listStatus(tmp)
          .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
        val marker = fs.create(
          new org.apache.hadoop.fs.Path(tmp, ProvenanceStore.SortedMarker), true)
        try marker.write(sortedFiles.mkString("\n").getBytes("UTF-8"))
        finally marker.close()
      })
  }
}

object ProvenanceStore {
  /** Basename of the sorted-layout manifest [[ProvenanceStore.compact]]
    * leaves in the table directory (read by
    * [[graft.sources.ProvenanceDataSource]]'s scan for its ordering report). */
  val SortedMarker = "_graft_sorted"

  /** K1 id-assignment scheme. */
  sealed trait IdMode
  object IdMode {
    /** Shuffle-free composite ids (partition, row-in-partition) — the
      * 100 TB default. Unique, FK-safe, non-contiguous. */
    case object Partitioned extends IdMode
    /** SQLite-AUTOINCREMENT parity: contiguous ids via a global ordered
      * row_number. Opt-in; single-task sort on the append path. */
    case object Contiguous extends IdMode
  }

  /** Stamp an `id` column per the selected scheme. `orderCols` only orders
    * the Contiguous scheme; Partitioned ids derive from physical placement.
    * Shared by the file layout here and [[BucketedProvenance]]. */
  private[pipeline] def withIdColumn(
      rows: DataFrame, base: Long, orderCols: Seq[String], idMode: IdMode): DataFrame =
    idMode match {
      case IdMode.Partitioned =>
        rows.withColumn("id", monotonically_increasing_id() + lit(base + 1L))
      case IdMode.Contiguous =>
        val w = Window.orderBy(orderCols.map(col): _*)
        rows.withColumn("id", row_number().over(w).cast("long") + lit(base))
    }

  /** Partitioned ids come from `monotonically_increasing_id`, which is
    * NONDETERMINISTIC across re-evaluations — and every append is consumed
    * twice (the parquet write, then FK propagation in the caller, Runner
    * J1/J2). A plain `.cache()` upstream does not close that hole: under
    * cache eviction, task retry, or a live-mode re-fetch the two
    * evaluations can stamp DIFFERENT ids, silently writing
    * `artifacts.response_id` values that exist nowhere in `responses`.
    * An eager `localCheckpoint` materializes the stamped rows exactly once
    * and truncates lineage, so a lost block fails the job loudly instead of
    * diverging quietly. Contiguous ids are a deterministic function of the
    * declared ordering and skip the materialization. */
  private[pipeline] def pinIds(stamped: DataFrame, idMode: IdMode): DataFrame =
    idMode match {
      case IdMode.Partitioned => stamped.localCheckpoint(true)
      case IdMode.Contiguous  => stamped
    }

  /** Parse an id-mode name (CLI/env): "contiguous" | "partitioned". */
  def idMode(name: String): IdMode = name.trim.toLowerCase match {
    case "contiguous"  => IdMode.Contiguous
    case "partitioned" => IdMode.Partitioned
    case other => throw new IllegalArgumentException(
      s"unknown id mode '$other' (expected contiguous|partitioned)")
  }
}
