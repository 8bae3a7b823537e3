package graft

import graft.sources.{ProvenanceCatalog, SpjProvenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned join through the DSv2 face: both provenance tables
  * report KeyGroupedPartitioning over the shared bucket transform, so the
  * lineage FK join plans with ZERO Exchange — no session-catalog bucketing
  * involved (the catalog-free form of BucketedProvenance's join). */
class SpjProvenanceSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val buckets = 8

  private def responseRows(n: Int): DataFrame =
    spark.range(0, n).select(
      col("id"), lit("prov_a").as("provider"), lit("GET").as("method"),
      concat(lit("https://x.test/"), col("id")).as("url"),
      lit("{}").as("params_json"), lit(200).as("status_code"),
      lit("{}").as("headers_json"), lit("body".getBytes("UTF-8")).as("body"),
      current_timestamp().as("created_at"))

  private def artifactRows(n: Int): DataFrame =
    spark.range(0, n).select(
      (col("id") + 10000).as("id"), lit("prov_a").as("provider"),
      concat(lit("https://a.test/"), col("id")).as("source_url"),
      sha2(col("id").cast("string"), 256).as("sha256"), lit(4L).as("bytes"),
      concat(lit("/blob/"), col("id")).as("blob_path"),
      col("id").as("response_id"), current_timestamp().as("created_at"))

  private def withSpjCatalog(name: String, wh: String)(f: => Unit): Unit = {
    val conf = spark.conf
    val prevBucketing = conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set(s"spark.sql.catalog.$name", classOf[ProvenanceCatalog].getName)
    conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    conf.set(s"spark.sql.catalog.$name.buckets", buckets.toString)
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // force a sort-merge join so exchange-freedom is the partitioning's doing
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f
    finally {
      conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("bucketed write round-trips through the catalog table") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    SpjProvenance.write(responseRows(100), wh, "responses", buckets)
    withSpjCatalog("spj_rt", wh) {
      val t = spark.table("spj_rt.responses")
      assert(t.count() == 100)
      assert(t.select("id").distinct().count() == 100)
      // bucket layout holds: every id landed in pmod(id, buckets)
      val dirs = new java.io.File(s"$wh/spj/responses").listFiles()
        .filter(_.getName.startsWith("bucket=")).map(_.getName).sorted
      assert(dirs.length == buckets)
      val viaDir = spark.read.parquet(s"$wh/spj/responses/bucket=3")
      assert(viaDir.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().forall(id => SpjProvenance.bucketOf(id, buckets) == 3))
    }
  }

  test("lineage FK join is exchange-free via KeyGroupedPartitioning (SPJ)") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    SpjProvenance.write(responseRows(200), wh, "responses", buckets)
    SpjProvenance.write(artifactRows(120), wh, "artifacts", buckets)
    withSpjCatalog("spj_join", wh) {
      val r = spark.table("spj_join.responses")
      val a = spark.table("spj_join.artifacts")
      val j = r.join(a, r("id") === a("response_id"))
        .select(r("id"), a("source_url"))
      assert(j.count() == 120)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SPJ join must plan with zero Exchange:\n$plan")
      // row parity against a plain (shuffling) join over the same files
      val rn = spark.read.parquet(s"$wh/spj/responses").select("id")
      val an = spark.read.parquet(s"$wh/spj/artifacts").select("response_id", "source_url")
      val want = rn.join(an, rn("id") === an("response_id"))
        .select(rn("id"), an("source_url"))
        .collect().map(x => (x.getLong(0), x.getString(1))).toSet
      val got = j.collect().map(x => (x.getLong(0), x.getString(1))).toSet
      assert(got == want)
    }
  }

  test("FK join elides its Sorts too: reported ordering + merged sorted runs") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    // THREE interleaved appends per table — each write is one sorted run
    // per bucket file; only the reader's k-way merge restores key order
    SpjProvenance.write(responseRows(60), wh, "responses", buckets)
    SpjProvenance.write(responseRows(200).filter(col("id") >= 60 && col("id") < 130), wh, "responses", buckets)
    SpjProvenance.write(responseRows(200).filter(col("id") >= 130), wh, "responses", buckets)
    SpjProvenance.write(artifactRows(50), wh, "artifacts", buckets)
    SpjProvenance.write(artifactRows(120).filter(col("response_id") >= 50), wh, "artifacts", buckets)
    withSpjCatalog("spj_sort", wh) {
      val r = spark.table("spj_sort.responses")
      val a = spark.table("spj_sort.artifacts")
      val j = r.join(a, r("id") === a("response_id"))
        .select(r("id"), a("source_url"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"zero Exchange expected:\n$plan")
      // Sort OPERATOR prints as "Sort [keys...]"; must not confuse it with
      // the SortMergeJoin node name itself
      assert(plan.contains("SortMergeJoin") && !plan.contains("Sort ["),
        s"scan-reported ordering must elide the SMJ sorts:\n$plan")
      // correctness under the merged read: parity with a plain join
      val rn = spark.read.parquet(s"$wh/spj/responses").select("id")
      val an = spark.read.parquet(s"$wh/spj/artifacts").select("response_id", "source_url")
      val want = rn.join(an, rn("id") === an("response_id"))
        .select(rn("id"), an("source_url"))
        .collect().map(x => (x.getLong(0), x.getString(1))).toSet
      assert(j.collect().map(x => (x.getLong(0), x.getString(1))).toSet == want)
      assert(want.size == 120)
      // each scan partition streams ascending ids (the merge across runs)
      val perPartSorted = spark.table("spj_sort.responses").select("id")
        .rdd.mapPartitions { it =>
          val ids = it.map(_.getLong(0)).toVector
          Iterator.single(ids == ids.sorted)
        }.collect()
      assert(perPartSorted.forall(identity), "bucket partitions must stream in key order")
    }
  }

  test("bucket compaction: many sorted runs -> one file per bucket, scan intact") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    // 10 appends = 10 sorted runs per touched bucket
    (0 until 10).foreach { i =>
      SpjProvenance.write(
        responseRows(200).filter(col("id") >= i * 20 && col("id") < (i + 1) * 20),
        wh, "responses", buckets)
    }
    val (compacted, before) = SpjProvenance.compactBuckets(spark, wh, "responses",
      maxRunsPerBucket = 4)
    assert(compacted == buckets, s"all $buckets buckets should compact, got $compacted")
    assert(before > buckets * 4, s"expected >4 runs per bucket before, saw $before total")
    val dirs = new java.io.File(s"$wh/spj/responses").listFiles()
      .filter(_.getName.startsWith("bucket="))
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName}: expected 1 file after compaction, got $n")
    }
    // scan still correct, still bucket-laid-out, still sorted per partition
    withSpjCatalog("spj_compact", wh) {
      val t = spark.table("spj_compact.responses")
      assert(t.count() == 200)
      assert(t.select("id").distinct().count() == 200)
      val perPartSorted = t.select("id").rdd.mapPartitions { it =>
        val ids = it.map(_.getLong(0)).toVector
        Iterator.single(ids == ids.sorted)
      }.collect()
      assert(perPartSorted.forall(identity))
    }
    // idempotent: second pass finds nothing above the cap
    assert(SpjProvenance.compactBuckets(spark, wh, "responses", 4) == ((0, 0)))
  }

  test("a bucket stranded by a crashed compaction swap is restored before scan and compaction") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    (0 until 10).foreach { i =>
      SpjProvenance.write(
        responseRows(200).filter(col("id") >= i * 20 && col("id") < (i + 1) * 20),
        wh, "responses", buckets)
    }
    val root = new java.io.File(s"$wh/spj/responses")
    // a crash between the swap's two renames leaves bucket=<b> missing and
    // its rows at bucket=<b>.compact-old
    def strand(b: Int): Unit =
      assert(new java.io.File(root, s"bucket=$b")
        .renameTo(new java.io.File(root, s"bucket=$b.compact-old")))
    def restored(b: Int): Boolean =
      new java.io.File(root, s"bucket=$b").isDirectory &&
        !new java.io.File(root, s"bucket=$b.compact-old").exists()
    strand(3)
    withSpjCatalog("spj_strand", wh) {
      assert(spark.table("spj_strand.responses").count() == 200)
    }
    assert(restored(3))
    strand(5)
    val (compacted, _) = SpjProvenance.compactBuckets(spark, wh, "responses",
      maxRunsPerBucket = 4)
    assert(compacted == buckets, s"the stranded bucket must compact too: $compacted")
    assert(restored(5))
    withSpjCatalog("spj_strand2", wh) {
      assert(spark.table("spj_strand2.responses").count() == 200)
    }
  }

  test("column pruning reaches the SPJ scan") {
    val wh = java.nio.file.Files.createTempDirectory("spj").toString
    SpjProvenance.write(responseRows(50), wh, "responses", buckets)
    withSpjCatalog("spj_prune", wh) {
      val q = spark.table("spj_prune.responses").select("id", "url")
      val desc = q.queryExecution.executedPlan.toString
      assert(desc.contains("graft-spj"), desc)
      val scanLine = desc.linesIterator.filter(_.contains("graft-spj")).mkString
      assert(!scanLine.contains("body"), s"body must be pruned: $scanLine")
      assert(q.count() == 50)
    }
  }
}
