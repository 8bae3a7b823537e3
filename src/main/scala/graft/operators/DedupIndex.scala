package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Persisted near-duplicate index: the build-once / probe-many face of
  * the q51 shingle machinery, the `bm25Postings` pattern applied to the
  * dedup family.
  *
  * Every cluster-family query (q62/q67/q91/q93/q106/q118/q147/q170/
  * q177/q186) derives from the SAME three intermediates — the per-doc
  * word-3-gram shingle relation, the co-occurrence pair graph, and the
  * connected-component clusters — yet the standalone forms rebuild them
  * per query (~12.7 MB of identical shuffle apiece at sf0.1; at 100 TB
  * that is a full corpus tokenize + the index self-join, the most
  * expensive step in the whole family, repeated ten times). [[build]]
  * materializes them ONCE as parquet; the `*Against` faces answer every
  * family query from the index with ZERO document scans (except where
  * the query's own OUTPUT carries document columns), byte-equal to the
  * standalone forms.
  *
  * Relations under `dir/`, all parquet. The append-growing ones are
  * WAVE-PARTITIONED (`<rel>/wave=<id>/`) with a committed-waves
  * manifest (`_waves/<id>` marker files, one atomic file-create per
  * wave); readers see only committed waves, so a crash anywhere inside
  * [[build]]/[[update]] leaves the new wave INVISIBLE rather than
  * half-applied — recovery is "replay the wave", never "rebuild the
  * corpus index":
  *  - `shingles/` — (doc_id, sh, h): per-doc DISTINCT text shingles with
  *    their xxhash64, UNCAPPED (the cap is applied downstream so the
  *    stored relation survives cap-policy changes). Text is kept because
  *    the evidence face (q186) reports human-readable shingles; joins
  *    use the 8-byte hash.
  *  - `dfs/`      — (h, df): per-wave document frequency of every
  *    shingle hash; readers SUM over waves. Gives [[update]] its
  *    union-side cap and the df-cap-crossing detector without
  *    re-counting the stored shingle relation.
  *  - `counts/`   — (doc_id, n): per-doc shingle counts AFTER the
  *    document-frequency cap (the q51 skew guard) — the denominators of
  *    every Jaccard.
  *  - `pairs/`    — (d1, d2, n1, n2, c, jaccard): the FULL co-occurrence
  *    pair graph (c ≥ 1, d1 < d2, df-capped) — no threshold baked in, so
  *    one index serves every consumer from the 0.02 leakage floor to the
  *    0.9 sweep rung. Downstream thresholds filter on the RAW ratio
  *    c/(n1+n2−c) (never the rounded column), reproducing the standalone
  *    faces bit-for-bit.
  *  - `roster/`   — (doc_id): every ingested doc id, including
  *    shingle-less short docs the other relations never record. Commits
  *    ATOMICALLY with the wave it arrived in, so an at-least-once
  *    ingester (the streaming sink) can anti-join replayed rows away
  *    with no torn-state window between "index updated" and "roster
  *    written".
  *  - `needs_rebuild/` — (h, old_df, new_df): df-cap CROSSINGS detected
  *    by [[update]] — shingles that were under the cap when their old
  *    pairs were built and went over in this wave (those old pairs, and
  *    the old docs' `n` denominators, would retroactively change under a
  *    rebuild). Non-empty means the incremental index has drifted from
  *    rebuild truth; [[needsRebuild]] reads the accumulated set.
  *  - `clusters/` — (doc_id, cluster_id, is_keeper) at the build's
  *    `clusterThreshold` (the family's declared 0.6). Whole-swapped.
  *  - `meta/`     — one row (n_docs, cluster_threshold, df_cap).
  *    Whole-swapped.
  *
  * Scale shape: the build is exactly ONE run of the q51 machinery plus
  * one clustering — everything the standalone family pays per query,
  * paid once per corpus snapshot. The pair graph is the only relation
  * that can outgrow the corpus and it is df-capped (a hot boilerplate
  * shingle cannot go quadratic); at a crawl-scale dup rate it is still
  * the same graph every consumer would have built anyway.
  * [[update]] maintains the index incrementally for an append-only
  * corpus: new×(old ∪ new) pairs only — the `incrementalMinhashPairs`
  * discipline — with the union-side df cap, then a pairs-graph-sized
  * recluster; the corpus is never rescanned.
  */
object DedupIndex {

  /** Loaded index handles (committed waves only, wave column dropped). */
  final case class Index(dir: String, shingles: DataFrame, counts: DataFrame,
      pairs: DataFrame, clusters: DataFrame, meta: DataFrame)

  val defaultClusterThreshold = 0.6

  /** The wave-partitioned (append-growing) relations, committed as a
    * unit by one `_waves/<id>` marker. */
  private val WavedRels =
    Seq("shingles", "dfs", "counts", "pairs", "roster", "needs_rebuild")

  // ---------------------------------------------------------------------
  // wave manifest plumbing
  // ---------------------------------------------------------------------

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def wavesPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/_waves")

  /** Committed wave ids (sorted). A wave is committed iff its marker
    * file exists — the marker create is the single atomic commit point
    * for everything [[build]]/[[update]] wrote under `wave=<id>` — OR
    * its id appears in a `*.absorbed` manifest, which [[compact]]
    * writes when it folds a wave's data away: the id must STAY
    * committed forever so a replay of that wave (the documented
    * at-least-once recovery) remains a no-op after compaction instead
    * of silently re-appending rows the fold already carries. */
  private[graft] def committedWaves(spark: SparkSession, dir: String): Seq[String] = {
    val fs = fsOf(spark, dir)
    val p = wavesPath(dir)
    if (!fs.exists(p)) Seq.empty
    else {
      val files = fs.listStatus(p).filter(_.isFile).map(_.getPath)
      val (absorbed, markers) = files.partition(_.getName.endsWith(".absorbed"))
      (markers.map(_.getName).toSeq ++
        absorbed.toSeq.flatMap(readAbsorbedIds(fs, _))).distinct.sorted
    }
  }

  private def readAbsorbedIds(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  private def commitWave(spark: SparkSession, dir: String, wave: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.mkdirs(wavesPath(dir))
    fs.create(new org.apache.hadoop.fs.Path(wavesPath(dir), wave), true).close()
  }

  private def waveDataPath(dir: String, rel: String, wave: String) =
    s"$dir/$rel/wave=$wave"

  /** Read a wave-partitioned relation: committed waves (plus
    * `extraWaves`, for the wave being written), wave column dropped.
    * The isin filter is a partition-pruning predicate — uncommitted
    * wave directories are never even listed into the scan. */
  private def readWaved(spark: SparkSession, dir: String, rel: String,
      extraWaves: Seq[String] = Nil): DataFrame = {
    val waves = committedWaves(spark, dir) ++ extraWaves
    spark.read.parquet(s"$dir/$rel")
      .filter(col("wave").isin(waves: _*))
      .drop("wave")
  }

  /** Delete wave directories whose marker never landed (a crashed
    * [[update]]): readers already ignore them; this reclaims the space
    * and clears the way for the wave's replay. */
  private def dropStrandedWaves(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    val committed = committedWaves(spark, dir).toSet
    WavedRels.foreach { rel =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("wave=") &&
            !committed.contains(n.stripPrefix("wave=")))
          fs.delete(st.getPath, true)
      }
    }
  }

  private def firstFree(taken: Set[String], fmt: Int => String): String =
    Iterator.from(taken.size).map(fmt).find(!taken(_)).get

  // ---------------------------------------------------------------------
  // build / load / update
  // ---------------------------------------------------------------------

  /** Build the index at `dir` from scratch (deletes any previous build).
    * One corpus shingle pass + one pair self-join + one clustering — the
    * family's shared cost, paid once. Everything lands under
    * `wave=<baseWave>`; the marker create at the end is the commit. */
  def build(docs: DataFrame, dir: String,
      clusterThreshold: Double = defaultClusterThreshold,
      dfCap: Int = Dedup.maxShingleDocFreq,
      baseWave: String = "base"): Unit = {
    val spark = docs.sparkSession
    fsOf(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    Dedup.shingles(docs)
      .select(col("doc_id"), col("sh"), xxhash64(col("sh")).as("h"))
      .write.mode(SaveMode.Overwrite)
      .parquet(waveDataPath(dir, "shingles", baseWave))
    // derive everything downstream from the PERSISTED relation — the
    // corpus is read exactly once above (and once for n_docs/roster)
    val shP = spark.read.parquet(waveDataPath(dir, "shingles", baseWave))
    shP.groupBy("h").agg(count(lit(1)).as("df"))
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "dfs", baseWave))
    val freqOk = spark.read.parquet(waveDataPath(dir, "dfs", baseWave))
      .filter(col("df") <= dfCap).select("h")
    val shF = shP.select("doc_id", "h").join(freqOk, "h")
      .localCheckpoint(eager = false) // consumers: counts + both join sides
    shF.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "counts", baseWave))
    val cntP = spark.read.parquet(waveDataPath(dir, "counts", baseWave))
    val common = shF.as("a")
      .join(shF.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    val j = col("c").cast("double") / (col("n1") + col("n2") - col("c"))
    common
      .join(cntP.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(cntP.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("c"),
        round(j, 6).as("jaccard"))
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "pairs", baseWave))
    val pairsP = spark.read.parquet(waveDataPath(dir, "pairs", baseWave))
    Dedup.duplicateClusters(rawThreshold(pairsP, clusterThreshold))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/clusters")
    writeFpSidecar(fsOf(spark, dir), s"$dir/clusters", wavesFpOf(Seq(baseWave)))
    // roster first, then n_docs FROM the roster parquet — counting the
    // written artifact instead of re-aggregating docs saves a third full
    // corpus scan (shingle write + roster write are the only two)
    docs.select("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "roster", baseWave))
    spark.read.parquet(waveDataPath(dir, "roster", baseWave))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("n_docs"), lit(clusterThreshold).as("cluster_threshold"),
        lit(dfCap.toLong).as("df_cap"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    writeFpSidecar(fsOf(spark, dir), s"$dir/meta", wavesFpOf(Seq(baseWave)))
    spark.range(0).select(col("id").as("h"), col("id").as("old_df"),
        col("id").as("new_df"))
      .write.mode(SaveMode.Overwrite)
      .parquet(waveDataPath(dir, "needs_rebuild", baseWave))
    commitWave(spark, dir, baseWave)
  }

  /** Restore any relation a crashed [[compact]] left stranded at
    * `<rel>.compact-old` (the swap's two renames are each atomic; a
    * crash between them leaves the data intact under the aside name) —
    * the "detected at read" half of the swap discipline, covering the
    * wave relations as well as the whole-swap clusters/meta. */
  private def restoreStranded(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    (WavedRels ++ Seq("clusters", "meta")).foreach { rel =>
      graft.ParquetStore.restoreIfStranded(
        fs, new org.apache.hadoop.fs.Path(s"$dir/$rel"))
    }
  }

  /** Readers NEVER observe ahead-state: clusters/meta carry a
    * `_waves_fp` sidecar naming the wave set they were derived from,
    * and load() compares it with the committed set. A crash between
    * [[update]]'s swaps and its wave marker (clusters one wave ahead of
    * the visible pair graph — the r12 torn window) reads as a stamp
    * mismatch, and the derived relations are served by LAZY recompute
    * from the committed pair graph / roster instead — pairs-sized work,
    * exactly what the stranded wave's replay will persist. */
  def load(spark: SparkSession, dir: String): Index = {
    restoreStranded(spark, dir)
    val fs = fsOf(spark, dir)
    val expectFp = wavesFpOf(committedWaves(spark, dir))
    val stampsValid =
      readFpSidecar(fs, s"$dir/clusters").contains(expectFp) &&
        readFpSidecar(fs, s"$dir/meta").contains(expectFp)
    val pairs = readWaved(spark, dir, "pairs")
    val (clusters, meta) =
      if (stampsValid)
        (spark.read.parquet(s"$dir/clusters"), spark.read.parquet(s"$dir/meta"))
      else {
        // thresholds are wave-invariant, so the (possibly ahead) meta
        // row is still the right source for them
        val metaRow = spark.read.parquet(s"$dir/meta").collect().head
        val thr = metaRow.getAs[Double]("cluster_threshold")
        val cap = metaRow.getAs[Long]("df_cap")
        (Dedup.duplicateClusters(rawThreshold(pairs, thr)),
          readWaved(spark, dir, "roster")
            .agg(count(lit(1)).as("n_docs"))
            .select(col("n_docs"), lit(thr).as("cluster_threshold"),
              lit(cap).as("df_cap")))
      }
    Index(dir,
      shingles = readWaved(spark, dir, "shingles"),
      counts = readWaved(spark, dir, "counts"),
      pairs = pairs,
      clusters = clusters,
      meta = meta)
  }

  /** Every ingested doc id (committed waves only) — includes
    * shingle-less short docs. The streaming sink's replay filter. */
  def roster(spark: SparkSession, dir: String): DataFrame =
    readWaved(spark, dir, "roster")

  /** Accumulated df-cap crossings: shingles whose old pairs (and old
    * docs' Jaccard denominators) a rebuild would retroactively change.
    * Empty ⇔ the incremental index equals a full rebuild (the
    * [[update]] exactness contract); non-empty ⇒ schedule [[build]]. */
  def needsRebuild(spark: SparkSession, dir: String): DataFrame =
    readWaved(spark, dir, "needs_rebuild")

  /** Incremental maintenance for an append-only corpus: `newDocs` (ids
    * disjoint from the indexed corpus — anti-join against [[roster]]
    * first when unsure) are shingled once, new×(old∪new) pairs computed
    * via the inverted index with the UNION-side df cap (the
    * `incrementalMinhashPairs` discipline: capping each side alone
    * would keep a bucket whose halves are both under cap while their
    * join still blows up), and the clusters re-derived from the PAIR
    * GRAPH (pairs-sized, never corpus-sized).
    *
    * Crash atomicity: every append lands under `wave=<waveId>` and
    * becomes visible only when the wave marker is created — the LAST
    * step. A crash anywhere before that leaves readers on the old index
    * exactly; recovery is re-running update with the SAME waveId (the
    * streaming sink's `batch-<id>` convention), which drops the
    * stranded wave and redoes it. An update whose waveId is already
    * committed is a no-op (replay idempotence). The only torn window is
    * a crash between the clusters/meta swaps and the marker: the swaps
    * are each atomic, but clusters may then be one wave AHEAD of the
    * visible pair graph until the wave is replayed — converging, never
    * silently divergent.
    *
    * Exactness: equal to a full rebuild as long as no shingle crosses
    * the df cap between snapshots (a crossing means the hot shingle's
    * old pairs, and the old docs' denominators, should retroactively
    * change). Crossings ARE detected — the stored per-wave `dfs/` gives
    * old totals, the batch gives the delta — and surfaced both in the
    * returned frame and the persisted [[needsRebuild]] relation:
    * (h, old_df, new_df) rows, empty when the incremental result is
    * exact. */
  def update(newDocs: DataFrame, dir: String,
      waveId: Option[String] = None): DataFrame = {
    val spark = newDocs.sparkSession
    // restore BEFORE the replay fast path: a replay arriving right after
    // a crashed compact would otherwise read needs_rebuild while it sits
    // stranded at needs_rebuild.compact-old and throw instead of healing
    restoreStranded(spark, dir)
    val committed = committedWaves(spark, dir)
    val wid = waveId.getOrElse(
      firstFree(committed.toSet, i => f"wave-$i%06d"))
    if (committed.contains(wid))
      // replayed wave: already fully applied — return the ACCUMULATED
      // crossings view. After compaction absorbs the wave, its rows are
      // re-homed under the compaction wave and a per-wave slice would
      // read empty even if the wave originally reported crossings; the
      // accumulated view stays a loud superset either way.
      return readWaved(spark, dir, "needs_rebuild")
    dropStrandedWaves(spark, dir)
    val metaRow = spark.read.parquet(s"$dir/meta").collect().head
    val clusterThreshold = metaRow.getAs[Double]("cluster_threshold")
    val dfCap = metaRow.getAs[Long]("df_cap")
    val shNew = Dedup.shingles(newDocs)
      .select(col("doc_id"), col("sh"), xxhash64(col("sh")).as("h"))
      .localCheckpoint(eager = false) // consumers: dfs, cap join, append
    // union-side df totals from the stored per-wave dfs — no re-count of
    // the (much larger) stored shingle relation
    val dfNew = shNew.groupBy("h").agg(count(lit(1)).as("df"))
      .localCheckpoint(eager = false) // consumers: totals + append
    val dfTotals = readWaved(spark, dir, "dfs")
      .groupBy("h").agg(sum(col("df")).as("old_df"))
      .join(dfNew.withColumnRenamed("df", "new_df"), Seq("h"), "full_outer")
      .select(col("h"), coalesce(col("old_df"), lit(0L)).as("old_df"),
        coalesce(col("new_df"), lit(0L)).as("new_df"))
      .localCheckpoint(eager = false) // consumers: over-cap set + crossings
    val overCap = dfTotals
      .filter(col("old_df") + col("new_df") > dfCap).select("h")
    // cap CROSSINGS: buckets whose pairs/denominators already entered the
    // index while under cap and went over in this wave — the silent-
    // staleness mode, made loud (old_df ≥ 1: a batch-only bucket that is
    // born over cap never contributed stale state)
    val crossings = dfTotals
      .filter(col("old_df").between(1L, dfCap) &&
        col("old_df") + col("new_df") > dfCap)
      .select("h", "old_df", "new_df")
    val newCapped = shNew.select("doc_id", "h")
      .join(broadcast(overCap), Seq("h"), "left_anti")
      .localCheckpoint(eager = false) // consumers: counts + three join sides
    val oldCapped = readWaved(spark, dir, "shingles").select("doc_id", "h")
      .join(broadcast(overCap), Seq("h"), "left_anti")
    val cntNew = newCapped.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // consumers: append + pair denominators
    val allCnt = readWaved(spark, dir, "counts").unionByName(cntNew)
    // new×old (either id order) + new×new (d1 < d2 once)
    val newOld = newCapped.as("a").join(oldCapped.as("b"), col("a.h") === col("b.h"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
    val newNew = newCapped.as("a")
      .join(newCapped.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val j = col("c").cast("double") / (col("n1") + col("n2") - col("c"))
    newOld.unionAll(newNew)
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      .join(allCnt.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(allCnt.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("c"),
        round(j, 6).as("jaccard"))
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "pairs", wid))
    shNew.write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "shingles", wid))
    dfNew.write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "dfs", wid))
    cntNew.write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "counts", wid))
    newDocs.select("doc_id")
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "roster", wid))
    crossings
      .write.mode(SaveMode.Overwrite).parquet(waveDataPath(dir, "needs_rebuild", wid))
    // recluster from the updated pair graph (committed + this wave);
    // swap in atomically, stamped with the wave fingerprint the derived
    // relations were computed FROM (committed ∪ this wave) — load()
    // validates the stamp against the committed set, so a crash between
    // these swaps and the marker can never serve ahead-state (the r12
    // torn window, now closed)
    val fpNew = wavesFpOf(committed :+ wid)
    val pairsP = readWaved(spark, dir, "pairs", extraWaves = Seq(wid))
    val stamp = (fs: org.apache.hadoop.fs.FileSystem, tmp: org.apache.hadoop.fs.Path) =>
      writeFpSidecar(fs, tmp.toString, fpNew)
    graft.ParquetStore.swap(s"$dir/clusters",
      Dedup.duplicateClusters(rawThreshold(pairsP, clusterThreshold)), stamp)
    // n_docs from the wave-committed roster, NOT old-meta + batch-count
    // arithmetic: a wave replayed after a crash past the meta swap would
    // double-count itself; the roster recount converges instead
    graft.ParquetStore.swap(s"$dir/meta",
      readWaved(spark, dir, "roster", extraWaves = Seq(wid))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"),
          lit(clusterThreshold).as("cluster_threshold"), lit(dfCap).as("df_cap")),
      stamp)
    commitWave(spark, dir, wid) // THE commit: the wave becomes visible
    spark.read.parquet(s"$dir/needs_rebuild")
      .filter(col("wave") === wid).drop("wave")
  }

  /** Maintenance compaction for the APPEND-GROWING relations
    * ([[update]] adds one wave of a few files per batch forever; at
    * crawl cadence that is thousands of files per day and every face's
    * read degrades O(files)). Rewrites each relation's committed rows
    * into a single fresh wave of ceil(rows / targetRowsPerFile) files
    * with the atomic aside-write-and-swap (readers see old or new,
    * never a mix; a stranded swap restores at entry). The compaction
    * wave's marker is created BEFORE the first swap, so there is no
    * window where swapped data is uncommitted. Rows are byte-identical
    * before and after for shingles/counts/pairs/roster/needs_rebuild —
    * so every face, and every oracle hash, is too; `dfs/` FOLDS to one
    * row per hash (readers sum over waves, so the fold is invisible).
    * Markers left matching no data after the sweep fold into one
    * `.absorbed` manifest — their ids stay committed (replaying an
    * absorbed wave must remain a no-op), only the per-wave files go.
    * Clusters/meta swap whole on every update and never accumulate.
    * Returns relation → (filesBefore, filesAfter). */
  def compact(spark: SparkSession, dir: String,
      targetRowsPerFile: Long = 4000000L): Map[String, (Int, Int)] = {
    val fs = fsOf(spark, dir)
    val cid = firstFree(committedWaves(spark, dir).toSet, i => f"compact-$i%06d")
    commitWave(spark, dir, cid)
    def dataFiles(rel: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
    }
    val stats = WavedRels.map { rel =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      graft.ParquetStore.restoreIfStranded(fs, path)
      val before = dataFiles(rel)
      if (before == 0) rel -> (0, 0)
      else {
        val df0 = readWaved(spark, dir, rel)
        val df = if (rel == "dfs")
          df0.groupBy("h").agg(sum(col("df")).as("df")) else df0
        val rows = df.count()
        val nFiles = math.max(1L,
          (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
        val tmp = new org.apache.hadoop.fs.Path(s"$path.compact-tmp")
        df.repartition(nFiles).write.mode(SaveMode.Overwrite)
          .parquet(s"$tmp/wave=$cid")
        graft.ParquetStore.swapCompacted(fs, path, tmp)
        rel -> (before, dataFiles(rel))
      }
    }.toMap
    // fold markers no relation references anymore into ONE `.absorbed`
    // manifest (keeps the _waves listing bounded at markers-since-last-
    // compaction + 1 file) — the ids themselves must stay committed
    // forever, or a replay of an absorbed wave (update()'s documented
    // at-least-once recovery) would re-apply rows the fold already
    // carries. Write-then-delete order: a crash in between leaves an id
    // present in both the manifest and its marker — committedWaves
    // dedups, so recovery is a no-op.
    val live = WavedRels.flatMap { rel =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("wave="))
        .map(_.stripPrefix("wave=")).toSeq
    }.toSet
    val toAbsorb = committedWaves(spark, dir).filterNot(live).filterNot(_ == cid)
    if (toAbsorb.nonEmpty) {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(wavesPath(dir), s"$cid.absorbed"), true)
      out.write((toAbsorb.mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
      fs.listStatus(wavesPath(dir)).filter(_.isFile).map(_.getPath)
        .filter { p =>
          val n = p.getName
          (toAbsorb.contains(n) ||
            (n.endsWith(".absorbed") && n != s"$cid.absorbed"))
        }
        .foreach(p => fs.delete(p, false))
    }
    stats
  }

  /** The wave fingerprint the DERIVED relations (clusters/meta) were
    * computed from: the sorted non-compaction wave ids. Compaction waves
    * are excluded — compact() folds data without changing any derived
    * result, so a compaction between update and load must not read as
    * staleness. */
  private def wavesFpOf(waves: Seq[String]): String =
    waves.filterNot(_.startsWith("compact-")).distinct.sorted.mkString(",")

  private def writeFpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: String, fp: String): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$dirPath/_waves_fp"), true)
    out.write(fp.getBytes("UTF-8"))
    out.close()
  }

  private def readFpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dirPath/_waves_fp")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  // ---------------------------------------------------------------------
  // apply faces — each byte-equal to its standalone counterpart
  // ---------------------------------------------------------------------

  /** Pairs at `threshold`, filtered on the RAW ratio (the rounded column
    * would admit a 0.5999996 pair at 0.6) — [[Dedup.exactJaccardPairs]]'s
    * exact output contract: (d1, d2, jaccard). */
  def pairsAt(idx: Index, threshold: Double): DataFrame =
    rawThreshold(idx.pairs, threshold)

  private def rawThreshold(pairs: DataFrame, threshold: Double): DataFrame = {
    val j = col("c").cast("double") / (col("n1") + col("n2") - col("c"))
    pairs.filter(j >= threshold)
      .select(col("d1"), col("d2"), round(j, 6).as("jaccard"))
  }

  /** q62/q67's output — the persisted clusters, as-is. */
  def clustersAgainst(idx: Index): DataFrame =
    idx.clusters.select("doc_id", "cluster_id", "is_keeper")

  /** q91's output (docs scanned once — the output IS document rows). */
  def applyAgainst(docs: DataFrame, idx: Index): DataFrame =
    Dedup.dedupApply(docs, idx.clusters)

  /** q93's output (docs scanned once for the full id roster). */
  def splitAgainst(docs: DataFrame, idx: Index): DataFrame =
    Dedup.clusterSplit(docs, idx.clusters)

  /** q106's output (docs scanned once for the quality projection). */
  def keepBestAgainst(docs: DataFrame, idx: Index): DataFrame =
    Dedup.dedupKeepBest(docs, idx.clusters)

  /** q170's output — zero document scans: the corpus total rides the
    * index meta. */
  def histogramAgainst(idx: Index): DataFrame =
    Dedup.componentSizeHistogramFrom(
      idx.meta.select(col("n_docs").as("n_total")), idx.clusters)

  /** q177's output — zero document scans: every rung filters the stored
    * pair graph. Mirrors [[Dedup.thresholdSweep]] exactly: the floor cut
    * is raw, the rung cuts compare the ROUNDED jaccard. */
  def sweepAgainst(idx: Index,
      ladder: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val spark = idx.pairs.sparkSession
    import spark.implicits._
    val pairs = pairsAt(idx, ladder.min)
      .localCheckpoint(eager = false) // consumers: pair counts + doc maxima
    val thrArr = array(ladder.map(lit(_)): _*)
    val pc = pairs.select(explode(thrArr).as("threshold"), col("jaccard"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val docMax = pairs.select(col("d1").as("doc_id"), col("jaccard"))
      .unionByName(pairs.select(col("d2").as("doc_id"), col("jaccard")))
      .groupBy("doc_id").agg(max(col("jaccard")).as("mx"))
    val dc = docMax.select(explode(thrArr).as("threshold"), col("mx"))
      .filter(col("mx") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    ladder.toDF("threshold")
      .join(pc, Seq("threshold"), "left")
      .join(dc, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("threshold")
  }

  /** q216's output — zero document scans: the planner's observed
    * similarity histogram derives from the stored raw pair graph, whose
    * (n1, n2, c) columns are [[Dedup.rawJaccardPairFrame]]'s shape; the
    * floor cut and all probability arithmetic run inside
    * [[Dedup.lshParameterPlanFromPairs]] on the integer micro-Jaccard,
    * so this face is bit-equal to the standalone q216. */
  def plannerAgainst(idx: Index, numHashes: Int = 16,
      threshold: Double = 0.6, floor: Double = 0.05): DataFrame =
    Dedup.lshParameterPlanFromPairs(idx.pairs, numHashes, threshold, floor)

  /** q186's output — zero document scans: evidence text comes from the
    * persisted shingle relation. Mirrors [[Dedup.nearDupExplanation]]. */
  def explanationAgainst(idx: Index, threshold: Double = 0.6,
      topShingles: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = pairsAt(idx, threshold)
      .localCheckpoint(eager = false) // consumers: shared join + output
    val sh = idx.shingles.select("doc_id", "sh")
      .localCheckpoint(eager = false) // consumers: d1 side, d2 side, df
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val shared = pairs.select("d1", "d2")
      .join(sh.select(col("doc_id").as("d1"), col("sh")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
    val w = Window.partitionBy("d1", "d2").orderBy(col("df").asc, col("sh"))
    val evidence = shared.join(dfreq, Seq("sh"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topShingles)
      .groupBy("d1", "d2")
      .agg(concat_ws(" | ", expr(
        "transform(array_sort(collect_list(struct(rn, sh))), s -> s.sh)"))
        .as("evidence"))
    pairs.join(evidence, Seq("d1", "d2"))
      .select(col("d1"), col("d2"), col("jaccard"), col("evidence"))
      .orderBy("d1", "d2")
  }

  /** q147's output — zero document scans: split assignment only matters
    * for pair ENDPOINTS, whose ids the pair graph already carries.
    * Mirrors [[Dedup.splitLeakageAudit]], including its rounded-jaccard
    * strong cut (the audit's own convention) and a fresh clustering of
    * the strong pairs (byte-parity with the standalone form even in
    * rounding-edge cases where it differs from the build's clusters). */
  def leakageAgainst(idx: Index, clusterThreshold: Double = 0.6,
      weakThreshold: Double = 0.02): DataFrame = {
    val pairs = pairsAt(idx, weakThreshold)
      .localCheckpoint(eager = false) // consumers: clusters + the audit join
    val strong = pairs.filter(col("jaccard") >= clusterThreshold)
    val endpoints = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
    val split = Dedup.clusterSplit(endpoints, Dedup.duplicateClusters(strong))
      .select(col("doc_id"), col("split"))
      .localCheckpoint(eager = false) // consumers: both endpoint joins
    pairs
      .join(split.select(col("doc_id").as("d1"), col("split").as("s1")), Seq("d1"))
      .join(split.select(col("doc_id").as("d2"), col("split").as("s2")), Seq("d2"))
      .select(
        when(col("jaccard") >= clusterThreshold, "clustered")
          .otherwise("weak").as("band"),
        (col("s1") =!= col("s2")).as("cross_split"))
      .groupBy("band", "cross_split").agg(count(lit(1)).as("n_pairs"))
      .orderBy("band", "cross_split")
  }

  /** q118's output — zero document scans: positives from the persisted
    * clusters, hard negatives from the full co-occurrence graph. Mirrors
    * [[Dedup.contrastivePairs]] (whose `clus` equals the build's
    * clusters: same raw-thresholded pair set in, same deterministic
    * component labels out). */
  def contrastiveAgainst(idx: Index): DataFrame = {
    val common = idx.pairs.select("d1", "d2", "c")
      .localCheckpoint(eager = false) // consumers: both candidate directions
    val clus = idx.clusters.select("doc_id", "cluster_id")
    val pos = clus.as("x")
      .join(clus.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("anchor_id"))
      .agg(min(col("y.doc_id")).as("positive_id"))
    val com2 = common.select(col("d1").as("a"), col("d2").as("b"), col("c"))
      .union(common.select(col("d2").as("a"), col("d1").as("b"), col("c")))
    val cand = com2.join(clus.as("x"), col("a") === col("x.doc_id"))
      .join(clus.as("y"), col("b") === col("y.doc_id"), "left")
      .filter(col("y.doc_id").isNull || col("y.cluster_id") =!= col("x.cluster_id"))
      .select(col("a").as("anchor_id"), col("b").as("cand_id"), col("c"))
    val neg = cand.groupBy("anchor_id")
      .agg(max(struct(col("c"), (-col("cand_id")).as("nid"))).as("m"))
      .select(col("anchor_id"), (-col("m.nid")).as("negative_id"),
        col("m.c").as("n_shared_neg"))
    pos.join(neg, Seq("anchor_id"), "left")
  }

  /** q141's output — zero document scans: triangles over the stored pair
    * graph at the standalone threshold. */
  def trianglesAgainst(idx: Index, threshold: Double = 0.3): DataFrame =
    Dedup.triangleCohesionFromPairs(pairsAt(idx, threshold).select("d1", "d2"))

  /** Cross-source duplicate-provenance matrix (q211): near-dup pair
    * counts per unordered source pair — the "which feeds are copying
    * which" audit a multi-source crawl runs before deciding what to
    * re-ingest. Pairs come from the stored graph; documents are scanned
    * once, ONLY for the (doc_id, source) projection the output needs.
    * The endpoint joins are pair-bounded on one side (the pair graph is
    * ≪ corpus at any real dup rate), so AQE broadcasts the pair side
    * against the corpus-sized source map; the final matrix is
    * |sources|²-bounded. */
  def sourceMatrixAgainst(docs: DataFrame, idx: Index,
      threshold: Double = defaultClusterThreshold): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairsAt(idx, threshold)
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")), Seq("d2"))
      .select(least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
      .orderBy("s1", "s2")
  }

  /** q189's output — zero document scans: the MinHash estimation-error
    * audit with BOTH sides answered from the index. The exact side is
    * the stored pair graph at the audit floor; the estimated side runs
    * the LSH machinery over the PERSISTED shingle relation (signatures
    * are an order-independent min-fold, so the persisted set reproduces
    * the standalone signatures bit-for-bit). At 100 TB this turns the
    * audit — which the standalone form pays two full corpus tokenizes
    * for — into a signature pass over the index plus a pair-graph
    * filter. */
  def errorAuditAgainst(idx: Index, numHashes: Int = 16, bands: Int = 4,
      exactFloor: Double = 0.01, grossErr: Double = 0.25,
      family: String = "md5"): DataFrame =
    Dedup.minhashErrorAuditFrom(
      Dedup.minhashLshPairsFromShingles(
        idx.shingles.select("doc_id", "sh"), numHashes, bands,
        family = family),
      pairsAt(idx, exactFloor), grossErr)

  // ---------------------------------------------------------------------
  // declared queries: build once per (JVM, sfDir), then every face is an
  // index probe — the composability the standalone family pays for per
  // query. The driver's Verify/Bench run queries sequentially in one JVM,
  // so the alphabetically-first index query pays the build and the other
  // nine ride it (the measured ~3× family win; see SCALING.md).
  // ---------------------------------------------------------------------

  private val builtFor = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Index dir for `sfDir`'s documents table, building on first use. */
  def ensure(spark: SparkSession, sfDir: String): Index = {
    val dir = builtFor.computeIfAbsent(sfDir, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft-dedup-index")
        .toString
      build(Tables.documents(spark, sfDir), d)
      d
    })
    load(spark, dir)
  }

  private def oracleOf(name: String): String =
    Dedup.defs(name).oracle.getOrElse(
      throw new IllegalStateException(s"no oracle for $name"))

  def defs: Map[String, QueryDef] = Map(

    // ---- index-backed clusters: q62's exact contract, answered from the
    //      persisted index (oracle shared verbatim). ----
    "q193_dedupindex_clusters" -> QueryDef.sql(
      oracleOf("q62_dup_clusters")) { (s, dir) =>
      clustersAgainst(ensure(s, dir)).orderBy("doc_id")
    },

    // ---- index-backed dedup apply (q91): the kept corpus; documents
    //      are scanned once because they ARE the output. ----
    "q194_dedupindex_apply" -> QueryDef.sql(
      oracleOf("q91_dedup_apply")) { (s, dir) =>
      applyAgainst(Tables.documents(s, dir), ensure(s, dir))
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- index-backed contamination-safe split (q93). ----
    "q195_dedupindex_split" -> QueryDef.sql(
      oracleOf("q93_cluster_split")) { (s, dir) =>
      splitAgainst(Tables.documents(s, dir), ensure(s, dir)).orderBy("doc_id")
    },

    // ---- index-backed keep-best dedup (q106). ----
    "q196_dedupindex_keep_best" -> QueryDef.sql(
      oracleOf("q106_dedup_keep_best")) { (s, dir) =>
      keepBestAgainst(Tables.documents(s, dir), ensure(s, dir)).orderBy("doc_id")
    },

    // ---- index-backed component histogram (q170): zero corpus scans —
    //      the total rides the index meta. ----
    "q197_dedupindex_histogram" -> QueryDef.sql(
      oracleOf("q170_component_size_histogram")) { (s, dir) =>
      histogramAgainst(ensure(s, dir))
    },

    // ---- index-backed threshold sweep (q177): zero corpus scans. ----
    "q198_dedupindex_sweep" -> QueryDef.sql(
      oracleOf("q177_threshold_sweep")) { (s, dir) =>
      sweepAgainst(ensure(s, dir))
    },

    // ---- index-backed near-dup explanations (q186): zero corpus scans —
    //      evidence text from the persisted shingles. ----
    "q199_dedupindex_explanation" -> QueryDef.sql(
      oracleOf("q186_neardup_explanation")) { (s, dir) =>
      explanationAgainst(ensure(s, dir))
    },

    // ---- index-backed split-leakage audit (q147): zero corpus scans. ----
    "q200_dedupindex_leakage" -> QueryDef.sql(
      oracleOf("q147_split_leakage")) { (s, dir) =>
      leakageAgainst(ensure(s, dir))
    },

    // ---- index-backed contrastive triples (q118): zero corpus scans. ----
    "q201_dedupindex_contrastive" -> QueryDef.sql(
      oracleOf("q118_contrastive_pairs")) { (s, dir) =>
      contrastiveAgainst(ensure(s, dir)).orderBy("anchor_id")
    },

    // ---- index-backed PageRank (q130): centrality over the stored pair
    //      graph at the q130 threshold; documents scanned once for the
    //      node roster (every doc holds rank mass, linked or not). ----
    "q203_dedupindex_pagerank" -> QueryDef.sql(
      oracleOf("q130_pagerank")) { (s, dir) =>
      Dedup.pageRank(Tables.documents(s, dir),
          pairsAt(ensure(s, dir), 0.3), damping = 0.85, iters = 5)
        .orderBy("doc_id")
    },

    // ---- cross-source duplicate-provenance matrix: a NEW face the
    //      index makes cheap (pairs from the store, documents scanned
    //      once for the source projection); the oracle recomputes the
    //      q51 pair set from scratch and joins sources. ----
    "q211_cross_source_dup_matrix" -> QueryDef.sql(
      s"""SELECT least(a.source, b.source) AS s1,
         |  greatest(a.source, b.source) AS s2, count(*) AS n_pairs
         |FROM (${oracleOf("q51_ngram_jaccard_pairs")}) p
         |JOIN documents a ON a.doc_id = p.d1
         |JOIN documents b ON b.doc_id = p.d2
         |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      sourceMatrixAgainst(Tables.documents(s, dir), ensure(s, dir))
    },

    // ---- index-backed MinHash error audit (q189), ORACLE-CHECKED the
    //      q219 way: the face answers from the index (estimated side =
    //      md5 lanes over the persisted shingles, exact side from the
    //      stored pair graph — zero corpus scans) while the oracle is
    //      q189's SQL verbatim, recomputing both sides from documents;
    //      a hash match proves the index path IS the standalone audit.
    //      DedupIndexSpec additionally pins byte-parity with q189. ----
    "q209_dedupindex_error_audit" -> QueryDef.sql(
      Dedup.minhashErrorAuditOracleSql) { (s, dir) =>
      errorAuditAgainst(ensure(s, dir))
    },

    // ---- index-backed LSH parameter planner (q216): zero corpus scans —
    //      the observed similarity histogram comes from the stored raw
    //      pair graph, whose (n1, n2, c) columns are exactly the shape
    //      the planner's integer micro-Jaccard arithmetic consumes. ----
    "q219_dedupindex_planner" -> QueryDef.sql(
      oracleOf("q216_lsh_parameter_plan")) { (s, dir) =>
      plannerAgainst(ensure(s, dir))
    },

    // ---- incremental maintenance, oracle-checked the strong way: build
    //      from the first ~80% of docs, update with the rest, and the
    //      clusters must hash-match q62's full-corpus oracle — the
    //      incremental path IS a full rebuild as far as DuckDB can tell. ----
    "q202_dedupindex_update" -> QueryDef.sql(
      oracleOf("q62_dup_clusters")) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-dedup-incr").toString
      // hash split, not range: interleaves old/new through the id space
      val isNew = substring(md5(col("doc_id").cast("string")), 1, 1) > lit("c")
      build(docs.filter(!isNew), d)
      update(docs.filter(isNew), d)
      clustersAgainst(load(s, d)).orderBy("doc_id")
    }
  )
}
