package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ParquetStore, QueryDef, Tables}

/** Persisted window-hash store: the build-once / probe-many face of the
  * exact-substring dedup family (q210/q212) — the `DedupIndex` pattern
  * applied to Lee et al. 2021's ExactSubstr signal.
  *
  * The standalone q210 pays a full corpus window pass per audit; at
  * crawl cadence the questions are incremental — "how duplicated is
  * TONIGHT's batch against everything already ingested?" — and the
  * corpus must never be re-windowed. The store keeps, per distinct
  * window hash, only the MIN and MAX doc_id that ever contained it:
  *
  *  - `windows/` — (h, mn, mx): one wave of rows per build/update;
  *    readers fold waves with min(mn)/max(mx) (associative and
  *    idempotent, so at-least-once replays and out-of-order appends
  *    all converge to the same folded relation — the HLL/KMV sink
  *    argument, no roster needed).
  *  - `meta/`    — one row (window_len): probes and updates must agree
  *    with the build's window length.
  *
  * Duplication needs no window text and no per-window doc list: a
  * window of doc d is duplicated iff SOME OTHER doc contains it, i.e.
  * NOT (mn = d AND mx = d) on the folded store (for an ingested doc
  * this is exactly mn ≠ mx — q210's min≠max predicate; for a
  * not-yet-ingested probe doc any store hit is a cross-doc dup, which
  * the same predicate reports because mn = mx = d is impossible).
  * [[statsAgainst]] over a complete store is therefore BYTE-EQUAL to
  * q210 over the same corpus — q213 pins that through q210's DuckDB
  * oracle verbatim.
  *
  * Scale shape: the store is (distinct windows) × 24 bytes — hashes
  * only, never window text; each update windows ONLY the new batch and
  * appends its wave; probes shuffle 8-byte hashes. [[compact]] folds
  * the append-growing waves with the atomic aside-write-and-swap. The
  * price of min/max-only state: a window's dup bit can't be UN-set
  * (deleting a doc needs a rebuild), and per-pair attribution needs the
  * pair-graph machinery (q51/q192), not this store — documented,
  * deliberate: this store answers the per-doc duplication rate, the
  * number that drives keep/drop gates at ingest. */
object SubstrDupStore {

  private def winDir(dir: String) = s"$dir/windows"
  private def metaDir(dir: String) = s"$dir/meta"

  /** One wave of (h, mn, mx) from a doc batch. */
  private def wave(docs: DataFrame, windowLen: Int): DataFrame =
    Dedup.windowRelation(docs, windowLen, byHash = true)
      .groupBy(col("w").as("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))

  /** Build the store at `dir` from scratch (overwrites any previous). */
  def build(docs: DataFrame, dir: String, windowLen: Int = 40): Unit = {
    wave(docs, windowLen)
      .write.mode(SaveMode.Overwrite).parquet(winDir(dir))
    docs.sparkSession.range(1)
      .select(lit(windowLen).as("window_len"))
      .write.mode(SaveMode.Overwrite).parquet(metaDir(dir))
  }

  def windowLenOf(spark: SparkSession, dir: String): Int =
    spark.read.parquet(metaDir(dir)).collect().head.getAs[Int]("window_len")

  /** Append one batch's wave. Idempotent under replays AFTER folding
    * (duplicate waves change no min/max); crash mid-append leaves a
    * partial wave that the next fold still reads correctly (extra rows
    * only ever tighten mn/mx toward values a complete wave would have
    * produced anyway). */
  def update(newDocs: DataFrame, dir: String): Unit = {
    ParquetStore.restoreIfStranded(newDocs.sparkSession, winDir(dir))
    wave(newDocs, windowLenOf(newDocs.sparkSession, dir))
      .write.mode(SaveMode.Append).parquet(winDir(dir))
  }

  /** The folded (h, mn, mx) relation across all waves. */
  def folded(spark: SparkSession, dir: String): DataFrame = {
    ParquetStore.restoreIfStranded(spark, winDir(dir))
    spark.read.parquet(winDir(dir))
      .groupBy("h").agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"))
  }

  /** q210's exact contract for `docs`, answered from the store: dup iff
    * some OTHER doc contains the window. `docs` may be the ingested
    * corpus (exact q210 parity) or a fresh not-yet-ingested batch (the
    * at-ingest gate; absent windows are simply not duplicated). */
  def statsAgainst(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    val wl = windowLenOf(spark, dir)
    val wins = Dedup.windowRelation(docs, wl, byHash = true)
      .withColumnRenamed("w", "h")
    wins.join(folded(spark, dir), Seq("h"), "left")
      .select(col("doc_id"),
        (col("mn").isNotNull &&
          !(col("mn") === col("doc_id") && col("mx") === col("doc_id")))
          .as("is_dup"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("div(n_dup_windows * 1000000, n_windows)").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** q214's APPLY contract answered from the store: strip every
    * character of `docs` covered by a window whose canonical keeper
    * (the store's folded mn) is some OTHER doc. Over a fully-ingested
    * corpus this is BYTE-EQUAL to [[graft.operators.Dedup.substringDedupApply]]
    * (mn is the global min, so the cut sets coincide — q215 pins that
    * through q214's DuckDB oracle verbatim). For a NOT-yet-ingested
    * probe batch the same predicate scrubs the batch against the corpus
    * at ingest — with the documented asymmetry that the CORPUS copy is
    * canonical even when the probe id is smaller (min/max-only state
    * cannot retroactively cut already-ingested text; a rebuild can).
    * Cut positions collect per doc and one in-row fold re-concatenates
    * the gaps — O(cuts) per doc, never per-character. */
  def applyAgainst(docs: DataFrame, dir: String): DataFrame = {
    val spark = docs.sparkSession
    val wl = windowLenOf(spark, dir)
    val eligible = docs.filter(length(col("text")) >= wl)
    // probe hashes from the SAME builder that fed the store — any change
    // to the shared windowing changes both sides together
    val wins = Dedup.windowRelationPos(docs, wl, byHash = true)
      .withColumnRenamed("w", "h")
    val cutArr = wins.join(folded(spark, dir), Seq("h"))
      .filter(col("mn") =!= col("doc_id")) // other-doc canonical (mn=mx=d excluded too)
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("ps"))
    eligible.select(col("doc_id"), col("text"))
      .join(cutArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        Dedup.keptTextExpr(wl).as("text_dedup"))
      .select(col("doc_id"), col("n_chars"), col("text_dedup"),
        (col("n_chars") - length(col("text_dedup")).cast("long"))
          .as("n_removed"))
      .orderBy("doc_id")
  }

  /** Fold all waves into one and swap atomically; returns
    * (filesBefore, filesAfter). Rows after = distinct window hashes. */
  def compact(spark: SparkSession, dir: String): (Int, Int) = {
    val before = ParquetStore.dataFileCount(spark, winDir(dir))
    if (before == 0) return (0, 0)
    ParquetStore.swap(winDir(dir), folded(spark, dir).localCheckpoint(eager = true))
    (before, ParquetStore.dataFileCount(spark, winDir(dir)))
  }

  def defs: Map[String, QueryDef] = Map(
    // ---- incremental substring dedup, oracle-checked the strong way
    //      (the q202 pattern): build the store from ~80% of docs, update
    //      with the rest, probe the FULL corpus — must hash-match q210's
    //      full-corpus oracle verbatim, proving the incremental path is
    //      indistinguishable from a one-shot window pass. ----
    "q213_substring_dup_incremental" -> QueryDef.sql(
      Dedup.defs("q210_exact_substring_dup").oracle.getOrElse(
        throw new IllegalStateException("q210 oracle missing"))) { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-substr-store").toString
      val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) > lit("c")
      build(docs.filter(!isNew), d)
      update(docs.filter(isNew), d)
      statsAgainst(docs, d)
    },

    // ---- incremental substring dedup APPLY (q215): the same strong
    //      oracle pattern — build 80% / update 20% / scrub the FULL
    //      corpus — must hash-match q214's full-corpus oracle verbatim,
    //      so the at-ingest scrub is provably indistinguishable from
    //      the one-shot apply over ingested corpora. ----
    "q215_substring_dedup_apply_incremental" -> QueryDef.sql(
      Dedup.defs("q214_substring_dedup_apply").oracle.getOrElse(
        throw new IllegalStateException("q214 oracle missing"))) { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-substr-store").toString
      val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) > lit("c")
      build(docs.filter(!isNew), d)
      update(docs.filter(isNew), d)
      applyAgainst(docs, d)
    }
  )
}
