package graft.pipeline

import graft.Json
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-run capture sinks K4–K8 (reference run_capture.py:112–184): for each
  * attempt, under the run dir —
  *
  *   requests/NNNN_method.json      (K4: redacted request record)
  *   responses/NNNN_method.raw.bin  (K5: raw body, always)
  *   responses/NNNN_method.raw.bin.gz  (K6: iff len >= gzipMinBytes)
  *   responses/NNNN_method.json     (K7: pretty JSON iff len <= prettyMax
  *                                   AND content-type ~ json AND parses)
  *   responses/NNNN_method.meta.json (K8: status, paths, byte_count,
  *                                   sha256, redacted headers, errors)
  *
  * NNNN is the zero-padded attempt counter (X14/X15) — assigned with
  * `row_number` over the declared ordering (provider, item_index, stage,
  * attempt_number), the deterministic replacement for the reference's
  * mutable `_attempt_counter` (run_capture.py:87).
  *
  * File writes happen in `foreachPartition` (Spark has no binary-file
  * writer); captures are per-run bounded (one file set per HTTP attempt),
  * so this sink's volume is O(api calls), not O(data).
  */
object CaptureSink {

  val defaultGzipMinBytes: Long = 5000000L  // settings.py:17–20
  val defaultPrettyMaxBytes: Long = 2000000L // settings.py:13–16

  /** Write all capture files for a run's fetches. `fetches` must carry:
    * provider, item_index, stage, method, url, status_code, headers_json,
    * body, attempts (the CapturedFetch shape). */
  def writeCaptures(
      fetches: Dataset[Model.CapturedFetch],
      runDir: String,
      gzipMinBytes: Long = defaultGzipMinBytes,
      prettyMaxBytes: Long = defaultPrettyMaxBytes): Unit = {
    val spark = fetches.sparkSession
    import spark.implicits._

    Files.createDirectories(Paths.get(runDir, "requests"))
    Files.createDirectories(Paths.get(runDir, "responses"))

    // one row per attempt, with final-response body attached to the last
    val rows = fetches.flatMap { f =>
      f.attempts.map { a =>
        val isFinal = a.attempt_number == f.attempts.map(_.attempt_number).max
        (a.provider, a.item_index, a.stage, a.method, a.url, a.attempt_number,
          a.status_code,
          HttpSource.headersJson(a.request_headers),
          HttpSource.headersJson(a.response_headers),
          a.error_type, a.error_message,
          if (isFinal) f.body else Array.emptyByteArray)
      }
    }.toDF("provider", "item_index", "stage", "method", "url", "attempt_number",
      "status_code", "request_headers_json", "response_headers_json",
      "error_type", "error_message", "body")

    val w = Window.orderBy("provider", "item_index", "stage", "attempt_number")
    val stamped = rows
      .withColumn("attempt_id", row_number().over(w))
      .withColumn("stem",
        format_string("%04d_%s", col("attempt_id"), lower(col("method"))))
      .withColumn("sha256", sha2(col("body"), 256))
      .withColumn("byte_count", octet_length(col("body")).cast("long"))
      .withColumn("request_headers_json",
        Redaction.redactJsonUdf(col("request_headers_json")))
      .withColumn("response_headers_json",
        Redaction.redactJsonUdf(col("response_headers_json")))
      // K7 gate: the content-type HEADER contains json (case-insensitive
      // key and value, run_capture.py:143) + size cap
      .withColumn("pretty_eligible",
        col("byte_count") <= prettyMaxBytes &&
          regexp_extract(lower(col("response_headers_json")),
            "\"content-type\"\\s*:\\s*\"([^\"]*)\"", 1).contains("json"))

    stamped.select("stem", "method", "url", "attempt_number", "status_code",
        "request_headers_json", "response_headers_json", "error_type",
        "error_message", "body", "sha256", "byte_count", "pretty_eligible")
      .foreachPartition { part: Iterator[org.apache.spark.sql.Row] =>
        lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        lazy val prettyWriter = mapper.writerWithDefaultPrettyPrinter()
        part.foreach { r =>
          val stem = r.getAs[String]("stem")
          val body = r.getAs[Array[Byte]]("body")
          val respDir = Paths.get(runDir, "responses")
          val reqDir = Paths.get(runDir, "requests")

          // K4: request record
          val reqJson =
            s"""{"method": ${Json.quote(r.getAs[String]("method"))}, """ +
              s""""url": ${Json.quote(r.getAs[String]("url"))}, """ +
              s""""attempt_number": ${r.getAs[Int]("attempt_number")}, """ +
              s""""headers": ${r.getAs[String]("request_headers_json")}}"""
          Files.write(reqDir.resolve(s"$stem.json"), reqJson.getBytes("UTF-8"))

          // K5: raw body, always
          Files.write(respDir.resolve(s"$stem.raw.bin"), body)

          // K6: conditional gzip
          if (body.length >= gzipMinBytes) {
            val bos = new ByteArrayOutputStream()
            val gz = new GZIPOutputStream(bos)
            gz.write(body); gz.close()
            Files.write(respDir.resolve(s"$stem.raw.bin.gz"), bos.toByteArray)
          }

          // K7: conditional pretty JSON (parse-or-skip, P8 tolerance)
          if (r.getAs[Boolean]("pretty_eligible")) {
            try {
              val tree = mapper.readTree(new String(body, "UTF-8"))
              if (tree != null && !tree.isMissingNode) {
                val pretty = prettyWriter.writeValueAsString(tree)
                Files.write(respDir.resolve(s"$stem.json"), pretty.getBytes("UTF-8"))
              }
            } catch { case _: Exception => () }
          }

          // K8: attempt meta
          val meta =
            s"""{
               |  "id": ${r.getAs[Int]("attempt_number")},
               |  "stem": ${Json.quote(stem)},
               |  "method": ${Json.quote(r.getAs[String]("method"))},
               |  "url": ${Json.quote(r.getAs[String]("url"))},
               |  "status_code": ${r.getAs[Int]("status_code")},
               |  "byte_count": ${r.getAs[Long]("byte_count")},
               |  "sha256": ${Json.quote(r.getAs[String]("sha256"))},
               |  "request_headers": ${r.getAs[String]("request_headers_json")},
               |  "response_headers": ${r.getAs[String]("response_headers_json")},
               |  "error_type": ${Json.quote(r.getAs[String]("error_type"))},
               |  "error_message": ${Json.quote(r.getAs[String]("error_message"))}
               |}""".stripMargin
          Files.write(respDir.resolve(s"$stem.meta.json"), meta.getBytes("UTF-8"))
        }
      }
  }

  /** Body preview for error messages (P7, nrc_adams_aps.py:38): first 400
    * chars of the UTF-8 decode with replacement. */
  def bodyPreview(body: Array[Byte]): String =
    new String(body.take(400), java.nio.charset.StandardCharsets.UTF_8)
}
