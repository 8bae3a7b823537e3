package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-family tokenizer audit: train all three tokenizer families the
  * engine implements — BPE (q102/q103, Sennrich et al. 2016), WordPiece
  * (q119/q120, Schuster & Nakajima 2012), and unigram-LM (q108/q109,
  * Kudo 2018) — on the SAME corpus and report one comparable row per
  * family: learned vocabulary units, corpus token counts, fertility
  * (subwords per word), and unknown-token words. This is the audit that
  * picks a tokenizer for a corpus: fertility decides sequence-length
  * budgets, [UNK] rates decide whether the vocab covers the data.
  *
  * Scale shape: each family's train/tokenize pair is the already-budgeted
  * production shape (distinct-word caches, vocab-sized loops); this
  * operator adds only three per-doc aggregations collapsed to ONE ROW
  * each (map-side combine), assembled by unionByName. Fertility divides
  * exact integer sums once — engine-identical digits. ORACLE-CHECKED
  * since r13 (each family's training/runtime is relationally
  * replayable — see Curation/Wordpiece/Unigram's replay blocks — and
  * the composite oracles here embed all three replays in one
  * prefix-namespaced statement); each family is also cross-checked
  * against an independent plain-Scala reference in its own suite, and
  * the audit row stays golden-pinned.
  */
object Tokenizers {

  /** Run independent driver-coordinated training loops concurrently
    * (optimization guide §2.6, "overlap independent jobs"): the three
    * tokenizer trainings share no state beyond the read-only corpus
    * barrier, but each is an iterative loop of small driver-submitted
    * jobs (30 rounds × 2–3 jobs plus per-round planning), so running them
    * sequentially leaves the cluster idle through every round's plan/
    * schedule gap — measured 6.6 s of driver gaps on q158 at sf0.1. A
    * fresh pool per call keeps Spark's thread-inherited job-group
    * properties correct (threads are created under the caller's group,
    * so Bench's per-query cost attribution still lands on this query);
    * results are deterministic because the loops are independent and
    * each is deterministic on its own.
    *
    * The first failure, in whichever thunk, stops the others' cluster
    * work too: each thunk tags its jobs with its own job tag, with
    * interrupt-on-cancel, and the failure cancels every tag. Interrupting
    * a driver thread alone leaves its submitted jobs running. Tags, not
    * job groups, so the caller's group and its attribution stay intact. */
  private[graft] def inParallel(spark: SparkSession)(
      thunks: (() => DataFrame)*): Seq[DataFrame] = {
    val sc = spark.sparkContext
    val tags = thunks.indices.map(i => s"graft-parallel-${java.util.UUID.randomUUID()}-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    val completed = new java.util.concurrent.ExecutorCompletionService[DataFrame](pool)
    try {
      val futs = thunks.zip(tags).map { case (t, tag) =>
        completed.submit(new java.util.concurrent.Callable[DataFrame] {
          override def call(): DataFrame = {
            sc.addJobTag(tag) // a fresh pool thread: the tag is this thunk's alone
            sc.setInterruptOnCancel(true)
            t()
          }
        })
      }
      thunks.foreach { _ =>
        try completed.take().get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            futs.foreach(_.cancel(true))
            tags.foreach(sc.cancelJobsWithTag)
            pool.shutdownNow()
            throw e.getCause
        }
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** One comparable summary row per tokenizer family. */
  def tokenizerAudit(docs: DataFrame): DataFrame = {
    // eager: the corpus barrier materializes ONCE before the trainers fork
    // (a lazy checkpoint would be raced to materialization by all three)
    val d = docs.localCheckpoint(eager = true) // consumers: 3 train+apply pipelines
    def row(name: String, perDoc: DataFrame, subCol: String, unkCol: Option[String],
        vocabUnits: DataFrame): DataFrame = {
      val agg = perDoc.agg(
        sum(col("n_words")).as("n_words"),
        sum(col(subCol)).as("n_subwords"),
        unkCol.map(c => sum(col(c))).getOrElse(lit(0L)).as("n_unk_words"))
      agg.crossJoin(broadcast(vocabUnits))
        .select(lit(name).as("tokenizer"), col("vocab_units"),
          col("n_words"), col("n_subwords"), col("n_unk_words"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility"))
    }
    val Seq(bpeMerges, wpMerges, ugPieces) = inParallel(d.sparkSession)(
      () => Curation.bpeTrainMerges(d)
        .localCheckpoint(eager = false), // consumers: tokenize + unit count
      () => Wordpiece.wordpieceTrainMerges(d)
        .localCheckpoint(eager = false),
      () => Unigram.unigramTrain(d)
        .localCheckpoint(eager = false))
    def units(t: DataFrame): DataFrame = t.agg(count(lit(1)).as("vocab_units"))
    val bpe = row("bpe", Curation.bpeTokenize(d, bpeMerges),
      "n_subwords", None, units(bpeMerges))
    val wp = row("wordpiece", Wordpiece.wordpieceTokenize(d, wpMerges),
      "n_subwords", Some("n_unk_words"), units(wpMerges))
    val ug = row("unigram", Unigram.unigramTokenize(d, ugPieces),
      "n_pieces", None, units(ugPieces))
    bpe.unionByName(wp).unionByName(ug).orderBy("tokenizer")
  }

  /** Learned-unit overlap between the three tokenizer families (q221):
    * for each family pair, the Jaccard of their learned MULTI-CHAR unit
    * sets — the audit that tells you whether two tokenizers have found
    * the same subword structure (high overlap ⇒ the corpus, not the
    * objective, is driving the vocabulary; low overlap ⇒ the objective
    * matters and the q158 fertility bake-off deserves attention).
    * Units normalize to surface strings: BPE merge products verbatim,
    * WordPiece products with a leading `##` stripped (the continuation
    * marker is positional bookkeeping, not learned content), unigram
    * multi-char pieces verbatim. All-integer counts, one rounded
    * division per pair; the three unit tables are tokenizer-sized, so
    * every join below is broadcast-trivial at any corpus size. */
  def tokenizerVocabOverlap(docs: DataFrame): DataFrame = {
    val d = docs.localCheckpoint(eager = true) // consumers: 3 trainings (forked)
    val Seq(bpe, wp, ug) = inParallel(d.sparkSession)(
      () => Curation.bpeTrainMerges(d)
        .select(concat(col("l"), col("r")).as("unit")).distinct()
        .withColumn("fam", lit("bpe")),
      () => Wordpiece.wordpieceTrainMerges(d)
        .select(concat(col("l"), expr("substring(r, 3)")).as("u"))
        .select(when(col("u").startsWith("##"), expr("substring(u, 3)"))
          .otherwise(col("u")).as("unit")).distinct()
        .withColumn("fam", lit("wordpiece")),
      () => Unigram.unigramTrain(d)
        .filter(length(col("piece")) >= 2)
        .select(col("piece").as("unit")).distinct()
        .withColumn("fam", lit("unigram")))
    val units = bpe.unionByName(wp).unionByName(ug)
      .localCheckpoint(eager = false) // consumers: both pair sides
    val a = units.select(col("fam").as("fam_a"), col("unit"))
    val b = units.select(col("fam").as("fam_b"), col("unit"))
    val common = a.join(b, Seq("unit")).filter(col("fam_a") < col("fam_b"))
      .groupBy("fam_a", "fam_b").agg(count(lit(1)).as("n_common"))
    val sizes = units.groupBy("fam").agg(count(lit(1)).as("n"))
    val pairs = sizes.select(col("fam").as("fam_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("fam").as("fam_b"), col("n").as("n_b")))
      .filter(col("fam_a") < col("fam_b"))
    pairs.join(common, Seq("fam_a", "fam_b"), "left")
      .select(col("fam_a"), col("fam_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double")
          / (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))), 6)
          .as("jaccard"))
      .orderBy("fam_a", "fam_b")
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- learned-unit overlap audit: ORACLE-CHECKED from birth — the
    //      three unrolled training replays (already built for q158)
    //      compose under prefixes and the set arithmetic is relational.
    //      ----
    "q221_tokenizer_vocab_overlap" -> QueryDef.sql(dkQ221Sql) { (s, dir) =>
      tokenizerVocabOverlap(Tables.documents(s, dir))
    },

    // ---- tokenizer bake-off: all three families on one corpus, one
    //      comparable row each. ORACLE-CHECKED since r13: with every
    //      family's training/runtime now relationally replayable
    //      (q102/q103, q119/q120, q108/q109), the bake-off oracle embeds
    //      all three unrolled replays in ONE statement (prefix-
    //      namespaced CTEs) and assembles the same three summary rows
    //      from corpus-weighted per-word results. The families keep
    //      their own independent-reference cross-checks. ----
    "q158_tokenizer_audit" -> QueryDef.sql(dkQ158Sql) { (s, dir) =>
      tokenizerAudit(Tables.documents(s, dir))
    })

  /** The composite bake-off oracle: BPE/WordPiece/unigram replays under
    * `bp_`/`wp_`/`ug_` prefixes, then one summary row per family. The
    * per-doc aggregations collapse to corpus-weighted per-word sums
    * (the token-stream join drops nothing: every distinct word is in
    * each family's cache by construction), so Σ_docs = Σ_w wc·f(w). */
  private[graft] def dkQ158Sql: String = {
    val bpeUnits = (1 to Curation.dkBpeMerges)
      .map(k => s"SELECT pair_count FROM bp_b$k")
      .mkString("SELECT CAST(count(*) AS BIGINT) FROM (", " UNION ALL ",
        ") WHERE pair_count > 0")
    val wpUnits = (1 to Wordpiece.dkWpMerges)
      .map(k => s"SELECT pair_count FROM wp_b$k")
      .mkString("SELECT CAST(count(*) AS BIGINT) FROM (", " UNION ALL ",
        ") WHERE pair_count > 0")
    s"""WITH RECURSIVE
       |${Curation.dkBpeTrainCtes(Curation.dkBpeMerges, "bp_")},
       |${Wordpiece.dkWpTrainCtes(Wordpiece.dkWpMerges, "wp_")},
       |${Wordpiece.dkWpVocabCte("wp_")},
       |${Wordpiece.dkWpWalkCtes("wp_")},
       |${Unigram.dkUnigramTrainCtes("ug_")},
       |ug_lpF AS MATERIALIZED (
       |  SELECT piece, ln(CAST(cnt AS DOUBLE)) - ln(tot) AS lp
       |  FROM ug_p2, (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM ug_p2)),
       |${Unigram.dkViterbiCtes("F", "ug_lpF", "ug_")},
       |bpe_row AS (
       |  SELECT 'bpe' AS tokenizer, ($bpeUnits) AS vocab_units,
       |    CAST(sum(wc) AS BIGINT) AS n_words,
       |    CAST(sum(wc * len(syms)) AS BIGINT) AS n_subwords,
       |    CAST(0 AS BIGINT) AS n_unk_words,
       |    round(CAST(sum(wc * len(syms)) AS DOUBLE) / CAST(sum(wc) AS DOUBLE), 6)
       |      AS fertility
       |  FROM bp_v${Curation.dkBpeMerges}),
       |wp_row AS (
       |  SELECT 'wordpiece' AS tokenizer, ($wpUnits) AS vocab_units,
       |    CAST(sum(v.wc) AS BIGINT) AS n_words,
       |    CAST(sum(v.wc * g.n_sub) AS BIGINT) AS n_subwords,
       |    CAST(sum(v.wc * g.is_unk) AS BIGINT) AS n_unk_words,
       |    round(CAST(sum(v.wc * g.n_sub) AS DOUBLE) / CAST(sum(v.wc) AS DOUBLE), 6)
       |      AS fertility
       |  FROM wp_seg g JOIN wp_v0 v ON v.w = g.w),
       |ug_row AS (
       |  SELECT 'unigram' AS tokenizer,
       |    (SELECT CAST(count(*) AS BIGINT) FROM ug_p2) AS vocab_units,
       |    (SELECT CAST(sum(wc) AS BIGINT) FROM ug_vw) AS n_words,
       |    CAST(sum(wc) AS BIGINT) AS n_subwords,
       |    CAST(0 AS BIGINT) AS n_unk_words,
       |    round(CAST(sum(wc) AS DOUBLE) /
       |      (SELECT CAST(sum(wc) AS DOUBLE) FROM ug_vw), 6) AS fertility
       |  FROM ug_piecesF)
       |SELECT * FROM (
       |  SELECT * FROM bpe_row UNION ALL
       |  SELECT * FROM wp_row UNION ALL
       |  SELECT * FROM ug_row)
       |ORDER BY tokenizer""".stripMargin
  }

  /** q221's oracle: the three training replays again, then the learned
    * multi-char unit sets (WP's `##` stripped) and pairwise Jaccard. */
  private[graft] def dkQ221Sql: String = {
    val bpeUnits = (1 to Curation.dkBpeMerges)
      .map(k => s"SELECT l, r, pair_count FROM bp_b$k")
      .mkString("SELECT DISTINCT l || r AS unit FROM (", " UNION ALL ",
        ") WHERE pair_count > 0")
    val wpUnits = (1 to Wordpiece.dkWpMerges)
      .map(k => s"SELECT l, r, pair_count FROM wp_b$k")
      .mkString(
        """SELECT DISTINCT CASE WHEN u LIKE '##%' THEN substr(u, 3) ELSE u END AS unit
          |FROM (SELECT l || substr(r, 3) AS u FROM (""".stripMargin,
        " UNION ALL ", ") WHERE pair_count > 0)")
    s"""WITH RECURSIVE
       |${Curation.dkBpeTrainCtes(Curation.dkBpeMerges, "bp_")},
       |${Wordpiece.dkWpTrainCtes(Wordpiece.dkWpMerges, "wp_")},
       |${Unigram.dkUnigramTrainCtes("ug_")},
       |units AS MATERIALIZED (
       |  SELECT 'bpe' AS fam, unit FROM ($bpeUnits)
       |  UNION ALL
       |  SELECT 'wordpiece' AS fam, unit FROM ($wpUnits)
       |  UNION ALL
       |  SELECT 'unigram' AS fam, piece AS unit FROM (
       |    SELECT DISTINCT piece FROM ug_p2 WHERE length(piece) >= 2)),
       |sizes AS (SELECT fam, CAST(count(*) AS BIGINT) AS n FROM units GROUP BY fam),
       |common AS (
       |  SELECT a.fam AS fam_a, b.fam AS fam_b, CAST(count(*) AS BIGINT) AS n_common
       |  FROM units a JOIN units b ON a.unit = b.unit AND a.fam < b.fam
       |  GROUP BY 1, 2)
       |SELECT pa.fam_a, pa.fam_b, pa.n_a, pa.n_b,
       |  coalesce(c.n_common, 0) AS n_common,
       |  round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
       |    / (pa.n_a + pa.n_b - coalesce(c.n_common, 0)), 6) AS jaccard
       |FROM (SELECT sa.fam AS fam_a, sb.fam AS fam_b, sa.n AS n_a, sb.n AS n_b
       |      FROM sizes sa, sizes sb WHERE sa.fam < sb.fam) pa
       |LEFT JOIN common c ON c.fam_a = pa.fam_a AND c.fam_b = pa.fam_b
       |ORDER BY pa.fam_a, pa.fam_b""".stripMargin
  }
}
