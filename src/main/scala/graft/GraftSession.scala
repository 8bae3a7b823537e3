package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built: every main and the test wrapper
  * start here, so these invariants hold everywhere:
  *  - UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` (events.parquet may carry
  *    TIMESTAMP(NANOS); `Tables.eventsRaw` refuses a session without it);
  *  - no UI, WARN log level.
  * AQE and its skew-join split are on by Spark 4.1's defaults, so they are
  * not restated.
  *
  * Cores: a caller that pins `cores` (goldens, PLANS.md and ANN.md were
  * produced at a fixed count) gets exactly that many threads and shuffle
  * partitions. Otherwise the count is SPARK_GRAFT_CPUS, else every
  * available processor, and SPARK_GRAFT_SHUFFLE_PARTITIONS may override the
  * partitions: a scale probe sizes them to the data, not the box.
  */
object GraftSession {

  def apply(
      cores: Option[Int] = None,
      master: Option[String] = None,
      warehouseDir: Option[String] = None): SparkSession = {
    val n = cores.orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt))
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val partitions =
      if (cores.isDefined) n.toString
      else sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", n.toString)
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(builder.config("spark.sql.warehouse.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
