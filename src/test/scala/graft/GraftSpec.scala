package graft

import graft.functions.MinHashAgg
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine facade surface: SQL over registered views, native function
  * availability in SQL, the typed Aggregator UDAF. */
class GraftSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  test("SparkEntry.entry flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("Graft.sql answers joins over the registered table views") {
    val df = Graft.sql(spark, sf001,
      """SELECT n.n_name, count(*) AS n
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n DESC, n_name LIMIT 3""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("graft_dot resolves in plain SQL after registration") {
    Graft.registerTables(spark, sf001)
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .as[Double].head()
    assert(d == 32.0)
  }

  test("graft_lsh_project misuse raises the friendly error, not IOOBE/NPE") {
    Graft.registerTables(spark, sf001)
    val oneArg = intercept[Exception] {
      spark.sql("SELECT graft_lsh_project(array(1.0D))").collect()
    }
    assert(oneArg.getMessage.contains("graft_lsh_project"),
      s"one-arg call must name the function: ${oneArg.getMessage}")
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT graft_lsh_project(array(1.0D), id) FROM range(3)").collect()
    }
    assert(nonLiteral.getMessage.contains("graft_lsh_project"),
      s"non-literal plane count must name the function: ${nonLiteral.getMessage}")
    val wrongArity = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D))").collect()
    }
    assert(wrongArity.getMessage.contains("graft_dot"))
  }

  test("graft-provenance DSv2 source matches the plain parquet read, filters/projection push") {
    import graft.pipeline.{Model, ProvenanceStore}
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    val store = new ProvenanceStore(spark, wh)
    store.appendResponses(spark.range(0, 100, 1, 4).select(
      lit("prov_a").as("provider"), lit("GET").as("method"),
      concat(lit("https://x.test/"), col("id")).as("url"),
      when(col("id") % 2 === 0, lit("{}")).as("params_json"), // nulls on odd ids
      (lit(200) + (col("id") % 2).cast("int")).as("status_code"),
      lit("{}").as("headers_json"), lit("body".getBytes("UTF-8")).as("body"),
      col("id").cast("int").as("item_index"), lit("metadata").as("stage")))

    val dsv2 = spark.read.format("graft-provenance")
      .option("warehouse", wh).option("table", "responses").load()
    val plain = spark.read.schema(Model.responsesSchema).parquet(s"$wh/responses")
    // full-row equality incl. timestamps (INT96/INT64 decode) and nulls
    assert(dsv2.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)

    // filtered + projected read returns the right rows
    val got = dsv2.filter(col("id") > 5 && col("status_code") === 200)
      .select("id", "url").orderBy("id")
    val want = plain.filter(col("id") > 5 && col("status_code") === 200)
      .select("id", "url").orderBy("id")
    assert(got.collect().toSeq == want.collect().toSeq)

    // a filter above every id (stats say: skip all row groups) reads empty;
    // partitioned ids are sparse ((partition<<33)+row), so derive the max
    val maxId = plain.agg(max("id")).head().getLong(0)
    assert(dsv2.filter(col("id") > maxId).count() == 0)
    // empty projection (count(*)) still counts rows
    assert(dsv2.count() == 100)
    // missing table dir reads as empty, not an error
    assert(spark.read.format("graft-provenance")
      .option("warehouse", wh).option("table", "artifacts").load().count() == 0)
  }

  test("graft-fixture DSv2 source reads fixtures as capture rows") {
    val df = spark.read.format("graft-fixture")
      .option("provider", "sec_edgar")
      .option("root", "src/test/resources/fixtures")
      .option("fixtures", "submissions.json,artifact.htm,missing.bin")
      .load()
    assert(df.schema.fieldNames.toSeq ==
      Seq("provider", "fixture_name", "url", "status_code", "headers_json", "body"))
    val rows = df.select("fixture_name", "status_code").as[(String, Int)]
      .collect().toMap
    assert(rows("submissions.json") == 200)
    assert(rows("artifact.htm") == 200)
    assert(rows("missing.bin") == 0, "missing fixture dead-letters as status 0")
    val body = new String(df.filter(col("fixture_name") === "artifact.htm")
      .select("body").as[Array[Byte]].head(), "UTF-8")
    assert(body.contains("SEC fixture artifact"))
  }

  test("the shared session carries GraftSession's invariants") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "UI must be off")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("GraftExtensions injects without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("registering the graft functions twice keeps the first builders") {
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")
    val registry = spark.sessionState.functionRegistry
    functions.VectorExpressions.register(spark)
    val first = registry.lookupFunctionBuilder(id)
    functions.VectorExpressions.register(spark)
    functions.TextExpressions.register(spark)
    assert(first.isDefined && registry.lookupFunctionBuilder(id).get.eq(first.get))
  }

  test("MinHashAgg aggregator builds signatures equal for identical shingle sets") {
    val mh = udaf(new MinHashAgg(16))
    val shingles = Seq(
      (1L, "a b c"), (1L, "b c d"), (1L, "c d e"),
      (2L, "a b c"), (2L, "b c d"), (2L, "c d e"), // same set as doc 1
      (3L, "x y z"), (3L, "y z w")
    ).toDF("doc_id", "sh")
    val sigs = shingles.groupBy("doc_id").agg(mh(col("sh")).as("sig"))
      .as[(Long, Array[Long])].collect().toMap
    assert(sigs(1L).toSeq == sigs(2L).toSeq, "identical sets → identical signatures")
    assert(MinHashAgg.estJaccard(sigs(1L), sigs(2L)) == 1.0)
    assert(MinHashAgg.estJaccard(sigs(1L), sigs(3L)) < 0.5, "disjoint sets diverge")
    assert(sigs(1L).length == 16)
  }

  test("MinHashAgg buffer merge is order-independent (partition merge path)") {
    val mh = udaf(new MinHashAgg(8))
    val many = (1 to 200).map(i => (1L, s"shingle $i")).toDF("doc_id", "sh")
    val s1 = many.repartition(1).groupBy("doc_id").agg(mh(col("sh")))
      .as[(Long, Array[Long])].head()._2
    val s8 = many.repartition(8).groupBy("doc_id").agg(mh(col("sh")))
      .as[(Long, Array[Long])].head()._2
    assert(s1.toSeq == s8.toSeq, "signature independent of partitioning")
  }
}
