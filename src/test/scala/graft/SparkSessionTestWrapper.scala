package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session; Test/fork=true gives the suite JVM the JDK17 add-opens).
  * Pinned at 4 cores so plan and partition assertions do not move with
  * the box; the warehouse is a temp dir for the bucketed-table specs. */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = GraftSession(cores = Some(4),
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft-wh").toString))

  val sf001 = "/root/testdata/sf0.001"
}
