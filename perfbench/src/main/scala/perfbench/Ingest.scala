package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline._
import graft.pipeline.Model._

/** The two connector shapes the ingest workloads drive. Each item `g` is a
  * pure function of (seed, g), so prior runs seeded into the warehouse and
  * the planned run agree on URLs, bodies and which payloads are malformed. */
sealed trait Shape extends Serializable {
  def provider: String
  def method: String
  def artifactFixture: String
  def metaUrl(g: Long): String
  def params(g: Long): String
  def artifactUrl(g: Long): String
  def metaBody(seed: Long, g: Long): String
  def artifactBody(seed: Long): Array[Byte]
  def extract(df: DataFrame): DataFrame
}

object Shape {
  /** splitmix64 finaliser: a stateless seeded hash for generated inputs. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** About 5% of metadata payloads are the malformed `{}`. */
  def malformed(seed: Long, g: Long): Boolean = java.lang.Long.remainderUnsigned(mix(seed, 11, g), 20) == 0

  /** Seeded filler of 100–900 letters, so metadata body sizes vary. */
  def filler(seed: Long, g: Long): String = {
    val n = 100 + java.lang.Long.remainderUnsigned(mix(seed, 12, g), 801).toInt
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += ('a' + java.lang.Long.remainderUnsigned(mix(seed, g, i), 26)).toChar; i += 1 }
    sb.toString
  }

  /** An artifact body of 1.5 KiB of seeded letters. */
  private def blob(seed: Long, salt: Long, head: String, tail: String): Array[Byte] = {
    val body = (0 until 1536).map(i => ('a' + java.lang.Long.remainderUnsigned(mix(seed, salt, i + 1), 26)).toChar).mkString
    (head + body + tail).getBytes(UTF_8)
  }

  /** SEC EDGAR: GET submissions JSON, parsed with `from_json`. */
  case object Sec extends Shape {
    val provider = SecEdgarConnector.name
    val method = "GET"
    val artifactFixture = SecEdgarConnector.artifactFixture
    private def cik10(g: Long) = f"${1000000L + g}%010d"
    private def accession(g: Long) = f"0000320193-24-$g%06d"
    def metaUrl(g: Long) = s"https://data.sec.gov/submissions/CIK${cik10(g)}.json"
    def params(g: Long) = s"""{"cik10": "${cik10(g)}"}"""
    def artifactUrl(g: Long) =
      s"https://www.sec.gov/Archives/edgar/data/${1000000L + g}/${accession(g).replace("-", "")}/doc-$g.htm"
    def metaBody(seed: Long, g: Long) =
      if (malformed(seed, g)) "{}"
      else s"""{"cik": "${1000000L + g}", "name": "Filer $g", "description": "${filler(seed, g)}", """ +
        s""""filings": {"recent": {"accessionNumber": ["${accession(g)}"], """ +
        s""""primaryDocument": ["doc-$g.htm"], "form": ["10-K"]}}}"""
    def artifactBody(seed: Long) = blob(seed, 21, "<html><body>", "</body></html>")
    def extract(df: DataFrame) = SecEdgarConnector.extract(df)
  }

  /** NRC ADAMS APS: POST search JSON, parsed with the `get_json_object`
    * coalesce chain; the seeded envelope variants walk that chain. */
  case object Aps extends Shape {
    val provider = NrcAdamsApsConnector.name
    val method = "POST"
    val artifactFixture = NrcAdamsApsConnector.artifactFixture
    def metaUrl(g: Long) = "https://adams.nrc.gov/wba/services/search"
    def params(g: Long) = s"""{"query": "reactor $g"}"""
    def artifactUrl(g: Long) = f"https://adams.nrc.gov/wba/docs/ML$g%08d.pdf"
    def metaBody(seed: Long, g: Long) = {
      val url = artifactUrl(g)
      val pad = filler(seed, g)
      if (malformed(seed, g)) "{}"
      else java.lang.Long.remainderUnsigned(mix(seed, 13, g), 3) match {
        case 0 => s"""{"results": [{"accessionNumber": "ML$g", "pdfUrl": "$url", "title": "$pad"}]}"""
        case 1 => s"""{"Results": [{"accessionNumber": "ML$g", "PdfUrl": "$url", "title": "$pad"}]}"""
        case _ => s"""{"documents": [{"document": {"Url": "$url"}, "title": "$pad"}]}"""
      }
    }
    def artifactBody(seed: Long) = blob(seed, 22, "%PDF-1.4\n", "\n%%EOF\n")
    def extract(df: DataFrame) = NrcAdamsApsConnector.extract(df)
  }

  val all: Seq[Shape] = Seq(Sec, Aps)
}

/** A connector over generated items [first, first + n): the plan and the
  * request mapping are the bench's, extraction is the real connector's.
  * `extractDelayMs` is the self-test hook: milliseconds slept inside
  * `extract`, so an injected delay lands in both the real run and the replay. */
final case class ShapeConnector(shape: Shape, first: Long, n: Int, extractDelayMs: Long)
    extends Connector {
  def name: String = shape.provider
  def artifactFixture: String = shape.artifactFixture

  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem] = {
    import spark.implicits._
    val s = shape
    spark.range(first, first + n).map(g => PlanItem(s.provider, g.toInt, s.params(g)))
  }

  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest] = {
    import spark.implicits._
    val s = shape
    items.map(it => FetchRequest(s.provider, it.item_index, "metadata", s.method,
      s.metaUrl(it.item_index.toLong), it.params_json, s"meta/${it.item_index}.json"))
  }

  def extract(responses: DataFrame): DataFrame = {
    if (extractDelayMs > 0) Thread.sleep(extractDelayMs)
    shape.extract(responses)
  }
}

/** Ground truth for one planned run, from the generator. */
final case class Expected(responses: Long, artifacts: Long, parseErrors: Long)

object Ingest {

  /** Writes the offline fixtures for items [first, first + n) of a shape:
    * one metadata body per item and the shape's single artifact body.
    * Returns the run's ground truth, given which items are already stored. */
  def writeFixtures(root: Path, shape: Shape, seed: Long, first: Long, n: Int,
      alreadyStored: Long => Boolean): Expected = {
    val dir = root.resolve(shape.provider)
    Files.createDirectories(dir.resolve("meta"))
    Files.write(dir.resolve(shape.artifactFixture), shape.artifactBody(seed))
    var bad = 0L
    var fresh = 0L
    var g = first
    while (g < first + n) {
      Files.writeString(dir.resolve(s"meta/$g.json"), shape.metaBody(seed, g))
      if (Shape.malformed(seed, g)) bad += 1
      else if (!alreadyStored(g)) fresh += 1
      g += 1
    }
    Expected(responses = 2L * n - bad, artifacts = fresh, parseErrors = bad)
  }

  private val seededAt = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Seeds the warehouse and blob store with `runs` prior runs of `n`
    * items per shape, written as the Runner would have left them: every
    * metadata response, and a response, an artifact row and a blob for each
    * well-formed item. One write per table, one file per prior run. */
  def seedWarehouse(spark: SparkSession, warehouse: String, blobRoot: String,
      seed: Long, runs: Int, n: Int): Unit = {
    val total = runs.toLong * n
    val shapes = Shape.all
    val bodies = shapes.map(s => s.provider -> s.artifactBody(seed)).toMap
    val shas = bodies.map { case (p, b) => p -> sha256Hex(b) }
    // item k of the seeded set: shape = k % 2, g = k / 2; ids are dense
    val responses = spark.sparkContext.range(0L, total * shapes.size, numSlices = runs)
      .flatMap { k =>
        val s = shapes((k % shapes.size).toInt)
        val g = k / shapes.size
        val meta = Row(2 * k + 1, s.provider, s.method, s.metaUrl(g), s.params(g), 200,
          """{"x-fixture": "seed"}""", s.metaBody(seed, g).getBytes(UTF_8), seededAt)
        if (Shape.malformed(seed, g)) Iterator(meta)
        else Iterator(meta, Row(2 * k + 2, s.provider, "GET", s.artifactUrl(g), null, 200,
          """{"x-fixture": "seed"}""", bodies(s.provider), seededAt))
      }
    spark.createDataFrame(responses, Model.responsesSchema)
      .write.mode("overwrite").parquet(s"$warehouse/responses")
    val artifacts = spark.sparkContext.range(0L, total * shapes.size, numSlices = runs)
      .flatMap { k =>
        val s = shapes((k % shapes.size).toInt)
        val g = k / shapes.size
        if (Shape.malformed(seed, g)) Iterator.empty
        else {
          val sha = shas(s.provider)
          Iterator(Row(k + 1, s.provider, s.artifactUrl(g), sha,
            bodies(s.provider).length.toLong, BlobStore.blobPath(blobRoot, sha), 2 * k + 2, seededAt))
        }
      }
    spark.createDataFrame(artifacts, Model.artifactsSchema)
      .write.mode("overwrite").parquet(s"$warehouse/artifacts")
    bodies.foreach { case (p, b) =>
      val path = Paths.get(BlobStore.blobPath(blobRoot, shas(p)))
      Files.createDirectories(path.getParent)
      Files.write(path, b)
    }
  }

  def sha256Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** Checks a run's result against its ground truth; returns the mismatches. */
  def check(what: String, r: Runner.RunResult, e: Expected): Seq[String] = {
    val bad = Seq(
      ("status", r.status, "succeeded"),
      ("responses", r.responses, e.responses),
      ("artifacts", r.artifacts, e.artifacts),
      ("parse_errors", r.parseErrors, e.parseErrors),
      ("attempts", r.attempts, e.responses))
      .collect { case (k, got, want) if got != want => s"$k=$got (want $want)" }
    if (bad.isEmpty) Nil else Seq(s"$what: ${bad.mkString(", ")}")
  }

  /** The limit = 1 reference goldens: the real connectors on the repo's
    * fixtures give 2 responses and 1 artifact; a `{}` submissions fixture
    * gives 1 response, 0 artifacts, at least one parse error, succeeded. */
  def checkGolden(what: String, r: Runner.RunResult, malformed: Boolean): Seq[String] = {
    val ok =
      if (malformed) r.status == "succeeded" && r.responses == 1 && r.artifacts == 0 && r.parseErrors >= 1
      else r.status == "succeeded" && r.responses == 2 && r.artifacts == 1 && r.parseErrors == 0
    if (ok) Nil
    else Seq(s"$what: status=${r.status} responses=${r.responses} artifacts=${r.artifacts} parse_errors=${r.parseErrors}")
  }

  /** Per-layer replay of one Runner.run's dataflow: each pipeline module's
    * public function is called on input that is already materialised, and
    * its own output is materialised inside its span. Mirrors Runner.run's
    * wiring; the Runner's own manifest writes are not replayed. */
  def replay(spark: SparkSession, spans: Spans, c: Connector, limit: Int, fixtures: String,
      warehouse: String, blobRoot: String, runDir: String,
      idMode: ProvenanceStore.IdMode): ReplayStats = {
    import spark.implicits._
    def pin[T](ds: Dataset[T]): Dataset[T] = { ds.persist(); ds.count(); ds }
    val store = new ProvenanceStore(spark, warehouse, idMode)
    val root = Some(fixtures)
    val (metaReq, planSpan) = spans("Connectors.plan", "replay") {
      pin(c.metadataRequests(spark, c.plan(spark, limit)))
    }
    val (metaFetched, f1) = spans("HttpSource.fetch", "replay") {
      pin(HttpSource.fetch(spark, metaReq, null, root))
    }
    val metaIn = metaFetched.toDF().select(col("provider"), col("method"), col("url"),
      col("params_json"), col("status_code"), col("headers_json"), col("body"),
      col("item_index"), col("stage"))
    val (metaIds, r1) = spans("ProvenanceStore.appendResponses", "replay") {
      pin(store.appendResponses(metaIn))
    }
    val (extracted, ex) = spans("Connectors.extract", "replay") {
      pin(c.extract(metaIds))
    }
    val targets = extracted.filter(col("artifact_url").isNotNull && col("error_message").isNull)
    val artReq = pin(targets.select(col("item_index"), col("artifact_url")).as[(Int, String)]
      .map { case (idx, url) =>
        FetchRequest(c.name, idx, "artifact", "GET", url, null, c.artifactFixture)
      })
    val (artFetched, f2) = spans("HttpSource.fetch", "replay") {
      pin(HttpSource.fetch(spark, artReq, null, root).filter(_.status_code == 200))
    }
    val artIn = artFetched.toDF().select(col("provider"), col("method"), col("url"),
      col("params_json"), col("status_code"), col("headers_json"), col("body"),
      col("item_index"), col("stage"))
    val (artIds, r2) = spans("ProvenanceStore.appendResponses", "replay") {
      pin(store.appendResponses(artIn))
    }
    val hashed = pin(artIds.select(col("provider"), col("url").as("source_url"),
        sha2(col("body"), 256).as("sha256"), length(col("body")).cast("long").as("bytes"),
        col("body"), col("id").as("response_id"))
      .withColumn("blob_path", concat(lit(blobRoot + "/"), substring(col("sha256"), 1, 2),
        lit("/"), col("sha256"))))
    val blobs0 = Util.countFiles(Paths.get(blobRoot))
    val (_, bp) = spans("BlobStore.put", "replay") { BlobStore.put(hashed, blobRoot) }
    val blobs = Util.countFiles(Paths.get(blobRoot)) - blobs0
    val offered = hashed.count()
    val (inserted, aa) = spans("ProvenanceStore.appendArtifacts", "replay") {
      store.appendArtifacts(hashed.select("provider", "source_url", "sha256", "bytes",
        "blob_path", "response_id")).count()
    }
    val all = metaFetched.union(artFetched)
    val (_, cs) = spans("CaptureSink.writeCaptures", "replay") {
      CaptureSink.writeCaptures(all, runDir)
    }
    val fetchedStats = all.agg(count(lit(1)), coalesce(sum(length(col("body"))), lit(0L))).head()
    val metaN = metaFetched.count()
    val targetsN = targets.count()
    val files = Util.countFiles(Paths.get(runDir))
    Seq(metaReq, metaFetched, metaIds, extracted, artReq, artFetched, artIds, hashed)
      .foreach(_.unpersist(false))
    ReplayStats(
      planS = planSpan.ms / 1e3, fetchS = (f1.ms + f2.ms) / 1e3, extractS = ex.ms / 1e3,
      appendResponsesS = (r1.ms + r2.ms) / 1e3, appendArtifactsS = aa.ms / 1e3,
      putS = bp.ms / 1e3, captureS = cs.ms / 1e3,
      requests = fetchedStats.getLong(0), bytesFetched = fetchedStats.getLong(1),
      extractYield = if (metaN == 0) 0.0 else targetsN.toDouble / metaN,
      dedupHitRatio = if (offered == 0) 0.0 else 1.0 - inserted.toDouble / offered,
      blobsWritten = blobs, filesWritten = files,
      fetchSpans = Seq(f1, f2), captureSpan = cs)
  }
}

final case class ReplayStats(
    planS: Double, fetchS: Double, extractS: Double, appendResponsesS: Double,
    appendArtifactsS: Double, putS: Double, captureS: Double, requests: Long,
    bytesFetched: Long, extractYield: Double, dedupHitRatio: Double, blobsWritten: Long,
    filesWritten: Long, fetchSpans: Seq[Span], captureSpan: Span) {
  def sumS: Double = planS + fetchS + extractS + appendResponsesS + appendArtifactsS + putS + captureS
}

object Util {
  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }

  /** Bytes of the regular files under `dirs` modified at or after `sinceMs`. */
  def bytesSince(dirs: Seq[Path], sinceMs: Long): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.filter(Files.isRegularFile(_)).filter(f => Files.getLastModifiedTime(f).toMillis >= sinceMs)
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def listFiles(p: Path): Set[Path] =
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.walk(p)
      try { val it = s.iterator(); var out = Set.empty[Path]; while (it.hasNext) out += it.next(); out }
      finally s.close()
    }

  /** Deletes everything under `p` that is not in `keep`. */
  def restore(p: Path, keep: Set[Path]): Unit =
    listFiles(p).toSeq.sortBy(-_.getNameCount).foreach(f => if (!keep.contains(f)) Files.delete(f))
}
