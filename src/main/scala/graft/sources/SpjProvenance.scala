package graft.sources

import java.util
import org.apache.hadoop.conf.Configuration
import graft.ParquetStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Storage-partitioned join (SPJ) face of the provenance warehouse — the
  * DSv2-native form of [[graft.pipeline.BucketedProvenance]]'s no-Exchange
  * lineage join, with no session-catalog (saveAsTable/bucketBy) dependency
  * (round-6 verdict #7 / NEXT.md #3):
  *
  *   spark.conf: spark.sql.catalog.graft_spj = graft.sources.ProvenanceCatalog
  *               spark.sql.catalog.graft_spj.warehouse = <dir>
  *               spark.sql.catalog.graft_spj.buckets = 16
  *               spark.sql.sources.v2.bucketing.enabled = true
  *   spark.table("graft_spj.responses")
  *     .join(spark.table("graft_spj.artifacts"), id === response_id)
  *
  * Both tables are laid out as `bucket=<b>/` directories with
  * b = pmod(key, buckets) — responses bucketed by `id`, artifacts by
  * `response_id`. Each scan reports [[KeyGroupedPartitioning]] over the
  * `bucket(buckets, key)` transform and one [[HasPartitionKey]] input
  * partition per bucket; the catalog doubles as a [[FunctionCatalog]]
  * providing the `bucket` function, which is how Catalyst resolves the
  * transform and proves both sides co-partitioned. Spark's SPJ rule then
  * plans the FK join with ZERO Exchange on either side — the physical
  * property that lets a 100 TB lineage join run join-locally on every
  * executor, no matter how many files each bucket accumulates.
  */
object SpjProvenance {

  /** FK column each table is bucketed on. */
  def keyColumnFor(table: String): String = table match {
    case "responses" => "id"
    case "artifacts" => "response_id"
    case other => throw new IllegalArgumentException(
      s"unknown provenance table '$other' (expected responses|artifacts)")
  }

  def tableDir(warehouse: String, table: String): String = s"$warehouse/spj/$table"

  /** Identity-mod bucketing (not a hash): provenance keys are engine-
    * assigned ids, already uniform, so pmod keeps the write side, the
    * catalog's bucket function, and a human reading the directory names
    * all trivially consistent. */
  def bucketOf(key: Long, buckets: Int): Int =
    (((key % buckets) + buckets) % buckets).toInt

  /** Append rows under `bucket=<b>/` directories. One shuffle by bucket id
    * on the way in (the LAST shuffle these rows ever see — every
    * subsequent FK join is exchange-free). Rows are additionally SORTED by
    * key within each written file (a task-local sort, no extra shuffle):
    * the scan's k-way merge reader restores per-bucket key order across
    * appends, which is what lets [[SpjScan]] report its ordering and the
    * FK join drop its Sort operators too — this sortedness is a format
    * invariant every writer of the layout must uphold. */
  def write(df: DataFrame, warehouse: String, table: String, buckets: Int): Unit = {
    val key = keyColumnFor(table)
    df.withColumn("bucket",
        pmod(col(key), lit(buckets.toLong)).cast("int"))
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(key))
      .write.mode("append").partitionBy("bucket")
      .parquet(tableDir(warehouse, table))
  }

  /** Per-bucket small-file compaction. Every append leaves one sorted run
    * per bucket, and while the scan's k-way merge tolerates any run
    * count, heap fan-in and per-file open cost grow with appends.
    * Rewrites each bucket directory holding more than `maxRunsPerBucket`
    * files into ONE key-sorted file (buckets are independent — the
    * rewrite is a single narrow sorted pass per bucket, done bucket-by-
    * bucket so a 100 TB table never needs a global rewrite, and
    * [[ParquetStore.swap]] keeps concurrent readers on old-or-new).
    * Returns (bucketsCompacted, filesBefore). */
  def compactBuckets(
      spark: org.apache.spark.sql.SparkSession,
      warehouse: String, table: String,
      maxRunsPerBucket: Int = 8): (Int, Int) = {
    val key = keyColumnFor(table)
    val root = new Path(tableDir(warehouse, table))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    var compacted = 0
    var filesBefore = 0
    bucketDirs(fs, root).foreach { case (_, d) =>
      val files = ParquetStore.dataFiles(fs, d).length
      if (files > maxRunsPerBucket) {
        filesBefore += files
        ParquetStore.swap(d.toString,
          spark.read.parquet(d.toString).coalesce(1).sortWithinPartitions(key))
        compacted += 1
      }
    }
    (compacted, filesBefore)
  }

  private val BucketDir = """bucket=(\d+)(?:\.compact-old)?""".r

  /** The table's `(b, bucket=<b>)` directories in bucket order. A bucket
    * that a crashed compaction stranded at `bucket=<b>.compact-old` is
    * listed too: [[ParquetStore.dataFiles]] restores it before listing its
    * files, so no reader misses its rows. */
  private[sources] def bucketDirs(fs: FileSystem, root: Path): Seq[(Int, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case BucketDir(b) => b.toInt }
      .distinct.sorted
      .map(b => b -> new Path(root, s"bucket=$b"))
}

/** V2 catalog exposing the SPJ layout: TableCatalog for the two tables,
  * FunctionCatalog for the `bucket` transform both sides share. Read-only —
  * writes go through [[SpjProvenance.write]]. */
class ProvenanceCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private var buckets: Int = 16

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    buckets = Option(options.get("buckets")).map(_.toInt).getOrElse(16)
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array("responses", "artifacts").map(Identifier.of(namespace, _))

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case t @ ("responses" | "artifacts") =>
      new SpjTable(SpjProvenance.tableDir(warehouse, t), t, buckets)
    case _ => throw new NoSuchTableException(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("read-only catalog; use SpjProvenance.write")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("read-only catalog")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("read-only catalog")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") SpjBucketFunction.unbound
    else throw new NoSuchFunctionException(ident)
}

/** The `bucket(numBuckets, key)` function backing the SPJ transform —
  * definitionally identical to the write side's pmod layout. Catalyst binds
  * it to prove both scans' partitionings compatible, and evaluates it when
  * padding partially-clustered distributions. */
object SpjBucketFunction extends ScalarFunction[Int] {
  val unbound: UnboundFunction = new UnboundFunction {
    override def bind(inputType: StructType): BoundFunction = SpjBucketFunction
    override def description(): String = "bucket(numBuckets, key): pmod bucket id"
    override def name(): String = "bucket"
  }
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.spj.bucket"
  override def produceResult(input: InternalRow): Int =
    SpjProvenance.bucketOf(input.getLong(1), input.getInt(0))
}

private[sources] class SpjTable(dir: String, table: String, buckets: Int)
    extends Table with SupportsRead {

  private val key = SpjProvenance.keyColumnFor(table)

  override def name(): String = s"graft-spj:$table"
  override def schema(): StructType = ProvenanceDataSource.schemaFor(table)
  override def partitioning(): Array[Transform] =
    Array(Expressions.bucket(buckets, key))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SpjScanBuilder(dir, schema(), key, buckets)
}

private[sources] class SpjScanBuilder(
    dir: String, tableSchema: StructType, key: String, buckets: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var requested: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    requested = requiredSchema

  override def build(): Scan = new SpjScan(dir, requested, key, buckets)
}

/** One input partition per `bucket=<b>/` directory, keyed by the bucket id
  * ([[HasPartitionKey]]) so Spark can align both join sides bucket-by-
  * bucket without any Exchange — and, because every file is written
  * key-sorted and the reader k-way-merges them, each partition streams in
  * ascending key order, reported via [[SupportsReportOrdering]] so
  * EnsureRequirements elides the merge-join Sorts as well: the lineage FK
  * join becomes a pure zero-Exchange zero-Sort merge pass. */
private[sources] class SpjScan(
    dir: String, requested: StructType, key: String, buckets: Int)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportOrdering {

  override def readSchema(): StructType = requested
  override def toBatch: Batch = this

  /** Ascending key order holds only when the key survives column pruning
    * (the merge reader needs it to compare rows). ASC defaults to NULLS
    * FIRST, matching the reader's null-key placement. */
  override def outputOrdering(): Array[SortOrder] =
    if (requested.fieldNames.contains(key))
      Array(Expressions.sort(Expressions.column(key), SortDirection.ASCENDING))
    else Array.empty

  private lazy val bucketFiles: Seq[(Int, Seq[String])] = {
    val path = new Path(dir)
    // session conf, not a bare Configuration: hdfs://-s3a:// warehouses
    // need the session's spark.hadoop.* credentials to list
    val fs = path.getFileSystem(ProvenanceDataSource.hadoopConf())
    SpjProvenance.bucketDirs(fs, path)
      .map { case (b, d) =>
        b -> ParquetStore.dataFiles(fs, d).map(_.getPath.toString).toSeq.sorted
      }
      .filter(_._2.nonEmpty)
  }

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(buckets, key)), bucketFiles.size)

  override def planInputPartitions(): Array[InputPartition] =
    bucketFiles.map { case (b, files) =>
      SpjBucketPartition(b, files): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    // capture the session Hadoop conf ON THE DRIVER: executors rebuild it
    // from these bits, so s3a/hdfs credentials reach the SPJ read path
    new SpjReaderFactory(requested, key, ProvenanceDataSource.confBits())

  override def description(): String =
    s"graft-spj $dir bucket($buckets, $key) ReadSchema: ${requested.catalogString}"
}

private[sources] case class SpjBucketPartition(bucket: Int, files: Seq[String])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Reads a bucket's files — each key-sorted at write time — as one stream.
  * When the key survives column pruning, the per-file cursors are k-way
  * MERGED on it (each append is one sorted run; the heap restores total
  * bucket order), preserving the ordering [[SpjScan]] reports. With the
  * key pruned away no ordering was promised, and the files simply chain.
  * The `bucket` directory column is not part of the stored files, so the
  * reader surface is exactly the model schema. */
private[sources] class SpjReaderFactory(requested: StructType, key: String,
    confBits: Seq[(String, String)])
    extends PartitionReaderFactory {

  private val perFile =
    new ProvenanceReaderFactory(requested, Array.empty, -1, confBits = confBits)
  private val keyIdx = requested.fieldNames.indexOf(key)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[SpjBucketPartition].files
    if (keyIdx >= 0) merging(files) else chained(files)
  }

  /** One open cursor per sorted file run. The per-file reader materializes
    * a fresh InternalRow on every get(), so buffered heads stay valid
    * while other cursors advance. Null keys sort first (Long.MinValue),
    * matching the reported ASC NULLS FIRST. */
  private final class Cursor(reader: PartitionReader[InternalRow]) {
    var row: InternalRow = _
    def sortKey: Long =
      if (row.isNullAt(keyIdx)) Long.MinValue else row.getLong(keyIdx)
    def advance(): Boolean =
      if (reader.next()) { row = reader.get(); true }
      else { reader.close(); false }
    def close(): Unit = reader.close()
  }

  private def merging(files: Seq[String]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val heap = new java.util.PriorityQueue[Cursor](
        math.max(1, files.size),
        (a: Cursor, b: Cursor) => java.lang.Long.compare(a.sortKey, b.sortKey))
      files.foreach { f =>
        val c = new Cursor(perFile.createReader(ProvenanceFilePartition(f)))
        if (c.advance()) heap.add(c)
      }
      private var current: InternalRow = _

      override def next(): Boolean = {
        val c = heap.poll()
        if (c == null) false
        else {
          current = c.row
          if (c.advance()) heap.add(c)
          true
        }
      }

      override def get(): InternalRow = current
      override def close(): Unit = {
        while (!heap.isEmpty) heap.poll().close()
      }
    }

  private def chained(files: Seq[String]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = files.iterator
      private var cur: PartitionReader[InternalRow] = _

      override def next(): Boolean = {
        var found = false
        var exhausted = false
        while (!found && !exhausted) {
          if (cur == null) {
            if (it.hasNext) cur = perFile.createReader(ProvenanceFilePartition(it.next()))
            else exhausted = true
          } else if (cur.next()) found = true
          else { cur.close(); cur = null }
        }
        found
      }

      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }
}
