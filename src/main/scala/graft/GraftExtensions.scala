package graft

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}

/** Engine integration points.
  *
  * [[GraftExtensions]] is a standard `SparkSessionExtensions` injector —
  * users enable the engine's native functions cluster-wide with
  * `spark.sql.extensions=graft.GraftExtensions` (no code changes), the
  * idiomatic Spark plugin mechanism.
  *
  * [[Graft]] is the library facade: register the testdata tables as temp
  * views and query them through `spark.sql` or the typed operators.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (functions.VectorExpressions.functions ++ functions.TextExpressions.functions)
      .foreach(ext.injectFunction)
}

object Graft {

  /** Register every testdata table under its name so `spark.sql` works
    * against the same data the typed operators use; also registers the
    * native functions for sessions built without the extension. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    functions.VectorExpressions.register(spark)
    Tables.names.foreach { n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n)
    }
  }

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(query)
  }
}
