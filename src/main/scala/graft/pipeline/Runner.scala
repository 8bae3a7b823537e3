package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Barriers, Json}
import Model._

/** The reference's per-item driver loop (pipeline.py:14–64) restructured as
  * set-at-a-time DataFrame stages with fan-out to three sinks:
  *
  *   plan → metadata fetch → responses append (K1) → extract (P1–P3) →
  *   [dead-letter parse errors (F6)] → artifact fetch → responses append →
  *   sha256 (X0) → blob put (K3) → artifacts dedup append (K2) →
  *   manifest (K9) + run.json (K10) + attempts capture (K4/K8, redacted X1)
  *
  * Where the reference pipelines one item at a time through all stages,
  * this runs every item through each stage partition-parallel; per-host
  * rate discipline lives inside the source (HttpSource), and idempotency
  * under re-execution comes from K2's anti-join + K3's write-if-absent.
  */
object Runner {

  case class RunResult(
      runDir: String,
      status: String,
      attempts: Long,
      responses: Long,
      artifacts: Long,
      parseErrors: Long)

  def run(
      spark: SparkSession,
      connector: Connector,
      limit: Int,
      fixtureRoot: String,
      warehouseDir: String,
      blobRoot: String,
      runRoot: String,
      live: Boolean = false,
      config: HttpSource.HttpConfig = HttpSource.HttpConfig(),
      transport: HttpSource.Transport = null,
      hostParallelism: Int = 1,
      idMode: ProvenanceStore.IdMode = ProvenanceStore.IdMode.Partitioned): RunResult = {
    import spark.implicits._

    val startedAt = java.time.Instant.now()
    val runDir = buildRunDir(runRoot, startedAt)
    val store = new ProvenanceStore(spark, warehouseDir, idMode)
    // live mode (reference cli.py:29 --live): real transport, no fixtures;
    // offline stays the default, exactly as in the reference (cli.py:33)
    val offlineRoot = if (live) None else Some(fixtureRoot)
    val tr: HttpSource.Transport =
      if (!live) null
      else if (transport != null) transport
      else HttpSource.jdkTransport(config.connectTimeoutMs)

    // Every frame this run caches or pins is consumed by a sink write
    // before return, so the scope can release them all: a long-lived
    // driver keeps no blocks and no cache-manager entries from finished
    // runs, on success or failure.
    val cachedFrames = scala.collection.mutable.Buffer[Dataset[_]]()
    def cached[T](ds: Dataset[T]): Dataset[T] = { cachedFrames += ds; ds.cache() }
    Barriers.withBarrierScope(spark) {
      try {
        tee(runDir, s"run start provider=${connector.name} limit=$limit live=$live")
        // S4 plan → S2/S3 metadata fetch (offline fixture transport)
        val items = connector.plan(spark, limit)
        val metaRequests = connector.metadataRequests(spark, items)
        val metaFetched = cached(HttpSource.fetch(spark, metaRequests, tr, offlineRoot,
          maxArtifactBytes = config.maxArtifactBytes,
          hostParallelism = hostParallelism, config = config))

        // K1 append metadata responses, ids back for FK J1/J2. The row count
        // rides the append's own materialization as an observe() metric.
        val metaObs = org.apache.spark.sql.Observation()
        val metaWithIds = cached(store.appendResponses(
          metaFetched.toDF()
            .withColumn("provider", col("provider"))
            .select(col("provider"), col("method"), col("url"), col("params_json"),
              col("status_code"), col("headers_json"), col("body"),
              col("item_index"), col("stage"))
            .observe(metaObs, count(lit(1)).as("n"))))

        // P1–P3 extraction; F6 split into targets vs dead-letter.
        // metaWithIds carries body/params_json/status_code through from the
        // append, so extraction runs directly on the id-stamped rows.
        val extracted = cached(connector.extract(metaWithIds))

        val parseErrors = extracted.filter(col("error_message").isNotNull)
          .select(lit(connector.name).as("provider"), lit("extract").as("stage"),
            col("error_message").as("message"), col("source_url").as("url"),
            col("item_index"), col("response_id"))

        val targets = extracted
          .filter(col("artifact_url").isNotNull && col("error_message").isNull)

        // S6 artifact fetch
        val artRequests = targets.select(col("item_index"), col("artifact_url"))
          .as[(Int, String)]
          .map { case (idx, url) =>
            FetchRequest(connector.name, idx, "artifact", "GET", url, null,
              connector.artifactFixture)
          }
        val artFetched = cached(HttpSource.fetch(spark, artRequests, tr, offlineRoot,
          maxArtifactBytes = config.maxArtifactBytes,
          hostParallelism = hostParallelism, config = config)
          .filter(_.status_code == 200))

        val artObs = org.apache.spark.sql.Observation()
        val artWithIds = cached(store.appendResponses(
          artFetched.toDF().select(col("provider"), col("method"), col("url"),
            col("params_json"), col("status_code"), col("headers_json"), col("body"),
            col("item_index"), col("stage"))
            .observe(artObs, count(lit(1)).as("n"))))

        // X0 hash + K3 blob put + K2 dedup append
        val hashed = cached(artWithIds
          .select(col("provider"), col("url").as("source_url"),
            sha2(col("body"), 256).as("sha256"),
            length(col("body")).cast("long").as("bytes"),
            col("body"), col("id").as("response_id"))
          .withColumn("blob_path",
            concat(lit(blobRoot + "/"), substring(col("sha256"), 1, 2),
              lit("/"), col("sha256"))))
        BlobStore.put(hashed, blobRoot)
        val inserted = store.appendArtifacts(
          hashed.select("provider", "source_url", "sha256", "bytes", "blob_path",
            "response_id"))

        // K4–K8 per-attempt capture files with X1 redaction.
        // Counts for the K10 summary ride as observe() metrics on the sink
        // writes below — one pass per frame, no post-hoc count() jobs (at
        // 100 TB every extra action is a full re-scan of its lineage).
        val allFetched = metaFetched.union(artFetched)
        CaptureSink.writeCaptures(allFetched, runDir)
        val attemptsObs = org.apache.spark.sql.Observation()
        allFetched.flatMap(_.attempts).toDF()
          .withColumn("request_headers", Redaction.redactMap(col("request_headers")))
          .withColumn("response_headers", Redaction.redactMap(col("response_headers")))
          .observe(attemptsObs, count(lit(1)).as("n"))
          .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$runDir/attempts")

        // K9 manifest — streamed JSON lines per run, never collected: a
        // 100 TB ingest's manifest is itself big data (round-4 verdict #5)
        val insertedObs = org.apache.spark.sql.Observation()
        inserted.observe(insertedObs, count(lit(1)).as("n"))
          .select("source_url", "sha256", "blob_path")
          .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$runDir/artifacts")

        val errorsObs = org.apache.spark.sql.Observation()
        parseErrors.observe(errorsObs, count(lit(1)).as("n"))
          .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$runDir/parse_errors")

        // K10 run summary from the observed metrics (the writes above have
        // completed synchronously, so the observations are already filled)
        val nAttempts = attemptsObs.get("n").asInstanceOf[Long]
        val nArtifacts = insertedObs.get("n").asInstanceOf[Long]
        val nErrors = errorsObs.get("n").asInstanceOf[Long]
        val nResponses = metaObs.get("n").asInstanceOf[Long] +
          artObs.get("n").asInstanceOf[Long]
        tee(runDir, s"run succeeded attempts=$nAttempts responses=$nResponses " +
          s"artifacts=$nArtifacts parse_errors=$nErrors")
        writeRunJson(runDir, "succeeded", connector.name, limit, startedAt,
          nAttempts, nResponses, nArtifacts, nErrors, idMode)
        RunResult(runDir, "succeeded", nAttempts, nResponses, nArtifacts, nErrors)
      } catch {
        case e: Exception =>
          // K12: error.txt + failed status (reference cli.py:106–115)
          Files.createDirectories(Paths.get(runDir))
          Files.write(Paths.get(s"$runDir/error.txt"),
            String.valueOf(e).getBytes("UTF-8"))
          tee(runDir, s"run failed: $e")
          writeRunJson(runDir, "failed", connector.name, limit, startedAt, 0, 0, 0, 0, idMode)
          throw e
      } finally cachedFrames.reverseIterator.foreach(_.unpersist())
    }
  }

  /** K11: tee log lines to console AND `<runDir>/run.log` (reference
    * run_capture.py:39–51 — a logging handler writing into the run dir). */
  private def tee(runDir: String, msg: String): Unit = {
    val line = s"${java.time.Instant.now()} $msg"
    println(line)
    Files.write(Paths.get(s"$runDir/run.log"), (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Timestamped run dir with numeric collision suffix (reference
    * run_capture.py:54–64). */
  def buildRunDir(root: String, startedAt: java.time.Instant): String = {
    val stem = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(startedAt)
    var dir = Paths.get(root, stem)
    var i = 1
    while (Files.exists(dir)) { dir = Paths.get(root, s"$stem-$i"); i += 1 }
    Files.createDirectories(dir)
    dir.toString
  }

  private def writeRunJson(
      runDir: String, status: String, provider: String, limit: Int,
      startedAt: java.time.Instant, attempts: Long, responses: Long,
      artifacts: Long, parseErrors: Long,
      idMode: ProvenanceStore.IdMode): Unit = {
    val endedAt = java.time.Instant.now()
    // id_mode is recorded so a partitioned run's sparse ids are traceable to
    // a declared scheme, not mistaken for reference (contiguous) parity
    val idModeName = idMode match {
      case ProvenanceStore.IdMode.Partitioned => "partitioned"
      case ProvenanceStore.IdMode.Contiguous  => "contiguous"
    }
    val json =
      s"""{
         |  "status": ${Json.quote(status)},
         |  "args": {"provider": ${Json.quote(provider)}, "limit": $limit, "id_mode": "$idModeName"},
         |  "started_at": "$startedAt",
         |  "ended_at": "$endedAt",
         |  "counts": {
         |    "attempts": $attempts,
         |    "responses": $responses,
         |    "artifacts": $artifacts,
         |    "parse_errors": $parseErrors
         |  }
         |}""".stripMargin
    Files.write(Paths.get(s"$runDir/run.json"), json.getBytes("UTF-8"))
  }
}
