package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Operator lanes: the program's declared queries (`SparkEntry.all`), run on
  * tables generated from the seed. */
object Lanes {

  private val vocab = Seq("a", "the", "data", "spark", "stream", "batch", "table", "column",
    "row", "key", "value", "hash", "join", "sort", "merge", "group", "agg", "filter", "scan",
    "window", "vector", "query", "order", "line", "part", "customer", "big", "small", "fast",
    "slow", "fun")

  /** A `documents` table shaped like the program's test corpus: words from
    * a 31-word vocabulary, 8–80 words per document, five languages, twenty
    * sources; about 3% of documents are near copies of an earlier one (one
    * word changed) and 0.5% exact copies, so the dedup lanes find pairs. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val v = typedLit(vocab)
    def h(cols: Column*): Column = pmod(xxhash64((lit(seed) +: cols): _*), lit(1000000007L))
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val kind = h(col("doc_id"), lit(1)) % 1000
    // near and exact copies take their words from an earlier document
    val base = when(kind < 35 && col("doc_id") > 0,
      col("doc_id") - 1 - h(col("doc_id"), lit(2)) % least(col("doc_id"), lit(200L)))
      .otherwise(col("doc_id"))
    val len = lit(8) + (h(col("base"), lit(3)) % 73).cast("int")
    val edit = when(kind < 30, (h(col("doc_id"), lit(4)) % col("len")).cast("int")).otherwise(lit(-1))
    val words = transform(sequence(lit(0), col("len") - 1), i =>
      element_at(v, (when(i === col("edit"), h(col("doc_id"), i, lit(5)))
        .otherwise(h(col("base"), i, lit(6))) % 31).cast("int") + 1))
    val langs = typedLit(Seq("en", "en", "en", "zh", "es", "fr", "de"))
    ids.withColumn("base", base).withColumn("len", len).withColumn("edit", edit)
      .select(col("doc_id"), concat_ws(" ", words).as("text"),
        element_at(langs, (h(col("doc_id"), lit(7)) % 7).cast("int") + 1).as("lang"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** A `lineitem` table for the pricing summary: TPC-H-like value ranges
    * with two-decimal prices, ship dates 1992–2001. */
  def lineitem(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    def h(k: Int): Column = pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(1000000007L))
    spark.range(n).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (h(1) % 20000 + 1).as("l_partkey"),
      (h(2) % 1000 + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(3) % 50 + 1).cast("double").as("l_quantity"),
      ((h(4) % 10000000 + 90000) / 100.0).as("l_extendedprice"),
      ((h(5) % 11) / 100.0).as("l_discount"),
      ((h(6) % 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")), (h(7) % 3).cast("int") + 1).as("l_returnflag"),
      element_at(typedLit(Seq("F", "O")), (h(8) % 2).cast("int") + 1).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(9) % (9L * 365 * 86400)).as("l_shipdate"))
  }

  /** Writes the generated tables as `dir/<name>.parquet`, one file each. */
  def writeTables(spark: SparkSession, dir: String, docs: Int, lineitems: Int, seed: Long): Unit = {
    documents(spark, docs, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (lineitems > 0)
      lineitem(spark, lineitems, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Order-independent digest of a result: row count and the sum of a
    * 64-bit hash of every row, taken as an observation on the same pass
    * that materialises it. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h")), obs)
  }

  private def digest(obs: Observation): String =
    s"${obs.get("n")}:${obs.get("h")}"

  /** The declared queries, resolved once outside any timed region. */
  private lazy val defs = graft.SparkEntry.all

  /** One timed lane execution, materialised through the `noop` sink. */
  def run(spark: SparkSession, q: String, dir: String): String = {
    val (df, obs) = observed(defs(q).fn(spark, dir))
    df.write.format("noop").mode("overwrite").save()
    digest(obs)
  }

  /** The untimed verification run: the result is written as parquet for the
    * DuckDB oracle, and its digest is the one every timed run must match. */
  def verify(spark: SparkSession, q: String, dir: String, out: String): String = {
    val (df, obs) = observed(defs(q).fn(spark, dir))
    df.coalesce(1).write.mode("overwrite").parquet(out)
    digest(obs)
  }

  def oracle(q: String): Option[String] = defs(q).oracle
}
