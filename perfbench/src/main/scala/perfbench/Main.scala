package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.pipeline._

/** Closed-loop, single-client benchmark driver: one SparkSession at
  * local[cores], one `Runner.run` or one lane at a time.
  *
  *   perfbench.Main --workload W --seed S --seconds T --trace 0|1 --work DIR
  *     [--inject-delay MS] [--inject-fail]
  *   perfbench.Main --train --work DIR
  *
  * `--train` sets up and warms up each workload once, untimed, so that a
  * JVM started with -XX:ArchiveClassesAtExit archives the classes a run
  * loads (class-data sharing for every measured run).
  *
  * Writes DIR/result.json (and DIR/trace/spans.jsonl when tracing); the
  * Python front end (perfbench/run.py) checks lane outputs against their
  * DuckDB oracles and prints the result line.
  */
object Main {

  /** Sizes of the generated inputs. */
  object Size {
    val ingestItems = 300     // plan items per connector shape
    val priorRuns = 20        // prior runs seeded for ingest_incremental
    val laneDocs = 500        // generated documents for the lanes
    val laneLineitems = 100000
    val setups = 3            // set-ups per invocation; setup_s is their median
  }

  /** The lanes of the `lanes` workload. */
  val laneList: Seq[String] = Seq("q111_quality_classifier_score", "q51_ngram_jaccard_pairs",
    "q74_decontamination", "q01_pricing_summary", "q234_image_curation_pipeline")

  /** The lanes workload's small run: its cheapest lane. */
  val smallLane = "q01_pricing_summary"

  val workloads: Seq[String] = Seq("ingest_incremental", "lanes")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, extractDelayMs: Long, injectFail: Boolean, train: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "inject-fail" || k == "train") { flags += k; i += 1 }
      else { m(k) = argv(i + 1); i += 2 }
    }
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "0").toDouble, m.get("trace").contains("1"),
      Paths.get(m("work")).toAbsolutePath, m.get("inject-delay").map(_.toLong).getOrElse(0L),
      flags("inject-fail"), flags("train"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.train) {
      workloads.foreach(w => new Bench(a.copy(workload = w, work = a.work.resolve(w))).warm())
      SparkSession.active.stop()
      sys.exit(0)
    }
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    sys.exit(new Bench(a).run())
  }
}

/** What one op (a Runner.run, a lane or a limit = 1 run) returned. */
final case class OpResult(name: String, span: Span, leaked: Int, replay: Option[ReplayStats])

final class Bench(a: Main.Args) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val work = a.work
  private val in = work.resolve("in")
  private val out = work.resolve("out")
  private val spans = new Spans
  private val recorder = new Recorder
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val isIngest = a.workload == "ingest_incremental"
  private val fixturesRoot = Paths.get("src/test/resources/fixtures").toAbsolutePath.toString

  private var spark: SparkSession = _
  private var expected: Map[Shape, Expected] = Map.empty
  private var seeded: Set[Path] = Set.empty
  private val verified = mutable.LinkedHashMap.empty[String, String]

  /** The planned run's first item: its first half was ingested by the last
    * seeded prior run, its second half is new. */
  private val firstItem = Size.priorRuns.toLong * Size.ingestItems - Size.ingestItems / 2

  def run(): Int = {
    Files.createDirectories(work)
    val (_, sessionSpan) = spans("session start", "setup") { startSession() }
    val setupS = (1 to Size.setups).map { _ =>
      Util.deleteTree(in)
      Files.createDirectories(in)
      spans("setup", "setup")(setup())._2.ms / 1e3
    }
    // warm-up, not timed: on the ingest workload one limit = 1 run; on the
    // lanes workload each lane once, writing the output the oracle checks
    // and the digest every timed run must reproduce
    spans.iter = 0
    if (isIngest) goldens(1) else laneOps()
    if (a.injectFail) injectFailure()
    val deadline = Clock.nowMs + a.seconds * 1000
    val iters = mutable.ArrayBuffer.empty[IterStats]
    var n = 0
    // a traced run needs one untraced and one traced iteration
    val minIters = if (a.trace) 2 else 1
    while ((n < minIters || Clock.nowMs < deadline) && n < 500) {
      n += 1
      spans.iter = n
      // a traced invocation alternates traced and untraced iterations, so
      // tracing overhead is measured within the same run
      val traced = a.trace && n % 2 == 0
      if (a.trace) { if (traced) attach() else detach() }
      iters += iteration(traced = traced)
    }
    // the limit = 1 runs on the warm driver; the lanes workload runs one only
    // when traced, as the pipeline runs its replay measures
    if (a.trace) attach()
    spans.iter = n + 1
    val small =
      if (isIngest) goldens(3) else if (a.trace) goldens(1, replay = true) else Nil
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val result = report(setupS, sessionSpan.ms / 1e3, iters.toSeq, small)
    Files.writeString(work.resolve("result.json"), result)
    if (a.trace) {
      spans.addJobs(recorder.allJobs)
      spans.writeJsonl(work.resolve("trace/spans.jsonl"))
    }
    spark.stop()
    if (failures.isEmpty) 0 else 1
  }

  /** Session, one set-up and the warm-up, untimed (see `--train`). */
  def warm(): Unit = {
    startSession()
    Files.createDirectories(in)
    setup()
    if (isIngest) goldens(1) else laneOps()
  }

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  private var attached = false
  private def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    attached = true
  }
  private def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    spark.listenerManager.unregister(recorder)
    attached = false
  }

  // ---------------------------------------------------------------- setup

  private def setup(): Unit =
    if (isIngest) {
      val fix = in.resolve("fixtures")
      val stored = (g: Long) => g < Size.priorRuns.toLong * Size.ingestItems
      expected = Shape.all.map { s =>
        s -> Ingest.writeFixtures(fix, s, a.seed, firstItem, Size.ingestItems, stored)
      }.toMap
      Ingest.seedWarehouse(spark, in.resolve("warehouse").toString, in.resolve("blobs").toString,
        a.seed, Size.priorRuns, Size.ingestItems)
      seeded = Util.listFiles(in.resolve("warehouse")) ++ Util.listFiles(in.resolve("blobs"))
      writeMalformedFixture()
    } else {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      Lanes.writeTables(spark, in.resolve("tables").toString, Size.laneDocs,
        Size.laneLineitems, a.seed)
      spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }

  /** A fixture root whose SEC submissions payload is the malformed `{}`. */
  private def writeMalformedFixture(): Unit = {
    val d = in.resolve("fixtures-malformed/sec_edgar")
    Files.createDirectories(d)
    Files.writeString(d.resolve("submissions.json"), "{}")
    Files.copy(Paths.get(fixturesRoot, "sec_edgar", "artifact.htm"), d.resolve("artifact.htm"))
  }

  /** The self-test's injected failure, made through the program's inputs:
    * one metadata fixture goes missing, or one document is dropped after the
    * lanes' digests were verified. */
  private def injectFailure(): Unit =
    if (isIngest) {
      val g = firstItem + 1
      Files.delete(in.resolve(s"fixtures/${Shape.Sec.provider}/meta/$g.json"))
    } else {
      val dir = in.resolve("tables")
      val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
        .filter("doc_id <> 1").collect()
      spark.createDataFrame(java.util.Arrays.asList(docs: _*), Lanes.documents(spark, 1, a.seed).schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    }

  // ------------------------------------------------------------ iterations

  final case class IterStats(ops: Seq[OpResult], bytesWritten: Long, stealPct: Double,
      load1: Double, traced: Boolean)

  private def iteration(traced: Boolean): IterStats = {
    val cpu0 = Host.cpu()
    val ((ops, bytes), _) = spans(s"iteration ${spans.iter}", "iteration") {
      if (isIngest) ingestOps(traced) else laneOps()
    }
    IterStats(ops, bytes, Host.stealPct(cpu0, Host.cpu()), Host.load1(), traced)
  }

  /** Runs `body` as one op span, counting persistent RDDs before and after;
    * the leaked RDDs are reported and then released outside the span. Each
    * op starts from a collected heap, so no op pays a full collection for
    * garbage an earlier op left. */
  private def op(name: String, kind: String)(body: => Seq[String]): (Span, Int) = {
    val sc = spark.sparkContext
    System.gc()
    val before = sc.getPersistentRDDs.keySet.toSet
    attempted += 1
    val (fails, span) = spans(name, kind) {
      try body
      catch { case e: Exception => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    leaked.values.foreach(_.unpersist(blocking = true))
    failures ++= fails
    (span, leaked.size)
  }

  private def resetIngest(): Unit = {
    Util.deleteTree(out)
    Util.restore(in.resolve("warehouse"), seeded)
    Util.restore(in.resolve("blobs"), seeded)
  }

  private def ingestOps(traced: Boolean): (Seq[OpResult], Long) = {
    var bytes = 0L
    val wh = in.resolve("warehouse")
    val blobs = in.resolve("blobs")
    val runs = out.resolve("runs")
    val ops = Shape.all.map { s =>
      val c = ShapeConnector(s, firstItem, Size.ingestItems, a.extractDelayMs)
      resetIngest()
      val t0 = System.currentTimeMillis()
      val (span, leaked) = op(s"Runner.run ${s.provider} n=${Size.ingestItems}", "op") {
        val r = Runner.run(spark, c, Size.ingestItems, in.resolve("fixtures").toString,
          wh.toString, blobs.toString, runs.toString)
        Ingest.check(s"Runner.run ${s.provider}", r, expected(s))
      }
      bytes += Util.bytesSince(Seq(wh, blobs, runs), t0)
      val replay = if (!traced) None else {
        resetIngest()
        Some(Ingest.replay(spark, spans, c, Size.ingestItems, in.resolve("fixtures").toString,
          wh.toString, blobs.toString, out.resolve("replay-run").toString,
          ProvenanceStore.IdMode.Partitioned))
      }
      OpResult(span.name, span, leaked, replay)
    }
    resetIngest()
    (ops, bytes)
  }

  private def laneOps(): (Seq[OpResult], Long) = {
    val dir = in.resolve("tables").toString
    val scratch = Seq(Paths.get(sys.props("java.io.tmpdir")), Paths.get(sys.props("graft.oracle.dir")))
    val t0 = System.currentTimeMillis()
    val ops = laneList.map { q =>
      val (span, leaked) = op(q, "op") {
        verified.get(q) match {
          case None =>
            val d = Lanes.verify(spark, q, dir, out.resolve(s"lanes/$q").toString)
            verified(q) = d
            Nil
          case Some(want) =>
            val got = Lanes.run(spark, q, dir)
            if (got == want) Nil else Seq(s"$q: digest $got differs from verified $want")
        }
      }
      OpResult(q, span, leaked, None)
    }
    val bytes = Util.bytesSince(scratch, t0)
    // the lanes' own scratch stores (graft-*) are left in the JVM temp dir
    val tmp = Files.list(scratch.head)
    try tmp.filter(_.getFileName.toString.startsWith("graft")).forEach(Util.deleteTree(_))
    finally tmp.close()
    (ops, bytes)
  }

  /** The first `count` of the limit = 1 runs with the CLI defaults
    * (contiguous ids): the real SEC and APS connectors on the repo's
    * fixtures, then SEC on the malformed `{}` fixture. */
  private def goldens(count: Int, replay: Boolean = false): Seq[OpResult] = {
    val cases = Seq(
      (SecEdgarConnector, fixturesRoot, false),
      (NrcAdamsApsConnector, fixturesRoot, false),
      (SecEdgarConnector, in.resolve("fixtures-malformed").toString, true)).take(count)
    cases.map { case (c, fix, malformed) =>
      val d = work.resolve("small")
      Util.deleteTree(d)
      val name = s"Runner.run ${c.name} limit=1" + (if (malformed) " {}" else "")
      val (span, leaked) = op(name, "small") {
        val r = Runner.run(spark, c, 1, fix, d.resolve("warehouse").toString,
          d.resolve("blobs").toString, d.resolve("runs").toString,
          idMode = ProvenanceStore.IdMode.Contiguous)
        Ingest.checkGolden(name, r, malformed)
      }
      val rs = if (!replay) None else {
        Util.deleteTree(d)
        Some(Ingest.replay(spark, spans, c, 1, fix, d.resolve("warehouse").toString,
          d.resolve("blobs").toString, d.resolve("replay-run").toString,
          ProvenanceStore.IdMode.Contiguous))
      }
      OpResult(name, span, leaked, rs)
    }
  }

  // --------------------------------------------------------------- report

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  private def report(setupS: Seq[Double], sessionS: Double, iters: Seq[IterStats],
      small: Seq[OpResult]): String = {
    val items = if (isIngest) Shape.all.size.toLong * Size.ingestItems
      else laneList.map(q => if (q.startsWith("q01")) Size.laneLineitems else Size.laneDocs).sum.toLong
    def wall(it: IterStats) = it.ops.map(_.span.ms).sum / 1e3
    val plain = iters.filter(!_.traced)
    val e2e = Seq(
      "setup_s" -> median(setupS),
      "wall_s" -> median(plain.map(wall)),
      "items_per_s" -> median(plain.map(it => items / wall(it))),
      "small_run_s" -> median(
        if (isIngest) small.map(_.span.ms / 1e3)
        else plain.flatMap(_.ops).filter(_.name == smallLane).map(_.span.ms / 1e3)),
      "peak_rss_mb" -> Host.vmHwmMb(),
      "bytes_written_per_item" -> median(plain.map(_.bytesWritten.toDouble / items)))
    val traced = iters.filter(_.traced)
    val layers = if (traced.isEmpty) Nil else layerMetrics(traced, plain, small, wall)
    val laneDetails = if (traced.isEmpty || isIngest) Nil else laneList.flatMap { q =>
      val per = traced.flatMap(_.ops.filter(_.name == q)).map { o =>
        val e = recorder.engine(o.span.start, o.span.end)
        (o.span.ms / 1e3, e.jobs.toDouble, e.analysisS + e.optimizationS + e.planningS,
          o.span.ms / 1e3 - e.jobUnionS)
      }
      Seq(s"lane.$q.wall_s" -> median(per.map(_._1)), s"lane.$q.jobs" -> median(per.map(_._2)),
        s"lane.$q.catalyst_s" -> median(per.map(_._3)), s"lane.$q.gap_s" -> median(per.map(_._4)))
    }
    // the program modules each lane's jobs attribute to
    val laneModules = if (traced.isEmpty || isIngest) Nil else laneList.map { q =>
      q -> traced.flatMap(_.ops.filter(_.name == q)).headOption
        .map(o => recorder.engine(o.span.start, o.span.end).byModule.keys.toSeq.sorted.mkString("+"))
        .getOrElse("")
    }
    val context = Seq(
      "nproc" -> cores.toString,
      "master" -> Json.str(s"local[$cores]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "session_start_s" -> Json.num(sessionS),
      "iterations" -> plain.size.toString,
      "traced_iterations" -> traced.size.toString,
      "steal_pct" -> iters.map(i => Json.num(i.stealPct)).mkString("[", ", ", "]"),
      "load1" -> iters.map(i => Json.num(i.load1)).mkString("[", ", ", "]"),
      "output_dir" -> Json.str(work.getFileName.toString),
      "items" -> items.toString)
    val laneJson = verified.toSeq.map { case (q, d) =>
      q -> Json.obj(Seq("digest" -> Json.str(d), "out" -> Json.str(out.resolve(s"lanes/$q").toString),
        "oracle" -> Lanes.oracle(q).map(Json.str).getOrElse("null")))
    }
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "lane_details" -> Json.obj(laneDetails.map { case (k, v) => k -> Json.num(v) }),
      "lane_modules" -> Json.obj(laneModules.map { case (k, v) => k -> Json.str(v) }),
      "op_wall_s" -> Json.obj((plain.flatMap(_.ops) ++ small).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (k, os) => k -> Json.num(median(os.map(_.span.ms / 1e3))) }),
      "lanes" -> Json.obj(laneJson),
      "tables" -> Json.str(in.resolve("tables").toString),
      "context" -> Json.obj(context)))
  }

  /** Pipeline-layer metrics from the replayed runs: the two Runner.run
    * calls at N on the ingest workloads, the two real-connector limit = 1
    * runs on the lane workload. */
  private def pipelineMetrics(runs0: Seq[OpResult]): Seq[(String, Double)] = {
    val runs = runs0.filter(_.replay.isDefined)
    val rs = runs.flatMap(_.replay)
    // the largest task's share of the widest stage run inside the spans
    def share(ss: Seq[Span]): Double = {
      val mods = ss.map(s => recorder.engine(s.start, s.end)).flatMap(_.byModule.values)
        .filter(_.taskRunS > 0)
      if (mods.isEmpty) 0.0 else mods.maxBy(_.taskRunS).maxTaskShare
    }
    val runEngines = runs.map(o => (o, recorder.engine(o.span.start, o.span.end)))
    Seq(
      "pipeline.HttpSource.fetch_s" -> rs.map(_.fetchS).sum,
      "pipeline.HttpSource.requests" -> rs.map(_.requests).sum.toDouble,
      "pipeline.HttpSource.bytes_fetched" -> rs.map(_.bytesFetched).sum.toDouble,
      "pipeline.HttpSource.max_task_share" -> share(rs.flatMap(_.fetchSpans)),
      "pipeline.Connectors.plan_s" -> rs.map(_.planS).sum,
      "pipeline.Connectors.extract_s" -> rs.map(_.extractS).sum,
      "pipeline.Connectors.extract_yield" -> median(rs.map(_.extractYield)),
      "pipeline.ProvenanceStore.append_responses_s" -> rs.map(_.appendResponsesS).sum,
      "pipeline.ProvenanceStore.append_artifacts_s" -> rs.map(_.appendArtifactsS).sum,
      "pipeline.ProvenanceStore.dedup_hit_ratio" -> median(rs.map(_.dedupHitRatio)),
      "pipeline.ProvenanceStore.bytes_scanned" ->
        runEngines.map(_._2.inputBytes("ProvenanceStore")).sum.toDouble,
      "pipeline.BlobStore.put_s" -> rs.map(_.putS).sum,
      "pipeline.BlobStore.blobs_written" -> rs.map(_.blobsWritten).sum.toDouble,
      "pipeline.CaptureSink.write_s" -> rs.map(_.captureS).sum,
      "pipeline.CaptureSink.files_written" -> rs.map(_.filesWritten).sum.toDouble,
      "pipeline.CaptureSink.max_task_share" -> share(rs.map(_.captureSpan)),
      "pipeline.Runner.jobs" -> runEngines.map(_._2.jobs).sum.toDouble,
      "pipeline.Runner.driver_gap_s" ->
        runEngines.map { case (o, en) => o.span.ms / 1e3 - en.jobUnionS }.sum,
      "pipeline.Runner.replay_overlap_s" -> (rs.map(_.sumS).sum - runs.map(_.span.ms).sum / 1e3),
      "pipeline.Runner.cached_rdds_leaked" -> runs.map(_.leaked).sum.toDouble)
  }

  /** Engine metrics over one iteration's ops (the Runner.run calls or the lanes). */
  private def engineMetrics(it: IterStats): Seq[(String, Double)] = {
    val opEngines = it.ops.map(o => (o, recorder.engine(o.span.start, o.span.end)))
    val e = opEngines.map(_._2)
    Seq(
      "catalyst.executions" -> e.map(_.executions).sum.toDouble,
      "catalyst.analysis_s" -> e.map(_.analysisS).sum,
      "catalyst.optimization_s" -> e.map(_.optimizationS).sum,
      "catalyst.planning_s" -> e.map(_.planningS).sum,
      "driver.gap_s" -> opEngines.map { case (o, en) => o.span.ms / 1e3 - en.jobUnionS }.sum,
      "spark.jobs" -> e.map(_.jobs).sum.toDouble,
      "spark.stages" -> e.map(_.stages).sum.toDouble,
      "spark.tasks" -> e.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> e.map(_.taskRunS).sum,
      "spark.task_cpu_s" -> e.map(_.taskCpuS).sum,
      "spark.gc_s" -> e.map(_.gcS).sum,
      "spark.shuffle_write_mb" -> e.map(_.shuffleWriteMb).sum,
      "spark.shuffle_read_mb" -> e.map(_.shuffleReadMb).sum,
      "spark.spill_mb" -> e.map(_.spillMb).sum,
      "spark.peak_task_exec_mb" -> (if (e.isEmpty) 0.0 else e.map(_.peakTaskExecMb).max),
      "spark.task_failures" -> e.map(_.taskFailures).sum.toDouble,
      "ops.cached_rdds_leaked" -> it.ops.map(_.leaked).sum.toDouble,
      "host.steal_pct" -> it.stealPct,
      "host.load1" -> it.load1,
      // job spans (unclipped) plus the driver gap, over the op's wall: off
      // 1 by the job time that falls outside the op that started it
      "trace.coverage" -> opEngines.map { case (o, en) =>
        (en.jobUnionUnclippedS + (o.span.ms / 1e3 - en.jobUnionS)) / (o.span.ms / 1e3) }.max)
  }

  /** Per-layer metrics: medians over the traced iterations. */
  private def layerMetrics(traced: Seq[IterStats], plain: Seq[IterStats], small: Seq[OpResult],
      wall: IterStats => Double): Seq[(String, Double)] = {
    def medians(rows: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
      rows.head.map(_._1).map(k => k -> median(rows.map(_.toMap.apply(k))))
    val pipeline =
      if (isIngest) medians(traced.map(it => pipelineMetrics(it.ops))) else pipelineMetrics(small)
    pipeline ++ medians(traced.map(engineMetrics)) :+
      ("trace.overhead_s" -> (median(traced.map(wall)) - median(plain.map(wall))))
  }
}
