package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=q79_x,q55_y narrows the dump for local
    // iteration with tools/check.py; the driver sets nothing and gets all
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_ONLY") match {
      case Some(names) =>
        val want = names.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val missing = want -- SparkEntry.queries.keySet
        require(missing.isEmpty, s"unknown verify queries: ${missing.mkString(",")}")
        SparkEntry.queries.view.filterKeys(want).toMap
      case None => SparkEntry.queries
    }
    // each query's barrier blocks are released once its parquet is written
    // — the 95-query dump holds at most one query's blocks at a time.
    // Failures are FIRST-CLASS: every selected query lands in errors.json
    // (null on success), so a query that errors shows up as an explicit
    // failing row in the artifact rather than a silent absence that only a
    // cross-round diff would reveal.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        Barriers.withBarrierScope(spark) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        errors(name) = None
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, e) => s"${Json.quote(k)}: ${e.map(Json.quote).getOrElse("null")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // exit 0 even on per-query failure: the driver's DuckDB comparison of
    // the partial dump must still run (errors.json + stderr carry the
    // failure signal as first-class rows; a non-zero rc here could cost
    // the whole round's correctness artifact)
  }
}
