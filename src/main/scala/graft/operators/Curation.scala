package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and training: PII scan/redaction, repetition-based
  * quality signals (Gopher/MassiveText-style), and benchmark
  * decontamination via n-gram overlap.
  *
  * Scale design mirrors the rest of the engine: q72/q73 are per-row
  * column expressions (shuffle-free, stream at scan speed); q74 is a
  * shingle inverted-index join — the same O(docs × shingles) shape as
  * exact Jaccard dedup (Dedup.exactJaccardPairs), never all-pairs. The
  * synthetic corpus contains no natural PII, so q72 plants deterministic
  * PII derived from doc_id (both engines construct the identical
  * augmented text) and then proves the scanner finds EXACTLY it — the
  * same planted-data discipline DedupSpec uses for recall gates.
  */
object Curation {

  /** Non-empty whitespace tokens — delegates to [[Text.words]], the
    * single tokenizer shared by every operator family. */
  private def words(c: Column): Column = Text.words(c)

  /** PII detectors in redaction order. Patterns are mutually disjoint on
    * any text (the separator shapes differ: @-domain, 3-2-4 dashes,
    * 3-3-4 dashes, dotted quads), so per-type counts on the raw text and
    * sequential replacement produce the same result in any order — which
    * is what makes the operator deterministic across engines. Both the
    * Spark columns and the oracle SQL are generated from THIS list, so
    * the two sides cannot drift (the q69 generated-oracle discipline).
    * Regexes are ASCII-only (`\d` = [0-9] in both Java regex and RE2). */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "[EMAIL]"),
    ("ssn", """\d{3}-\d{2}-\d{4}""", "[SSN]"),
    ("phone", """\d{3}-\d{3}-\d{4}""", "[PHONE]"),
    ("ip", """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}""", "[IP]"))

  /** Deterministic PII injection: doc_id decides which PII a doc carries
    * (divisibility by 3/5/7/11), and the planted values are pure
    * functions of doc_id — so expected per-type counts are known in
    * closed form and the oracle builds the byte-identical string. */
  private def augmentedText(): Column = concat(
    col("text"),
    when(col("doc_id") % 3 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(""),
    when(col("doc_id") % 5 === 0,
      concat(lit(" call 555-867-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(""),
    when(col("doc_id") % 7 === 0,
      concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string")))
      .otherwise(""),
    when(col("doc_id") % 11 === 0,
      concat(lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(""))

  // NOTE: keep `||` mid-line — QueryDef.sql stripMargins the full oracle
  // text, so a line STARTING with `||` would lose a pipe as a margin marker
  private val augmentedTextSql: String =
    """concat(text,
      |      CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END,
      |      CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END,
      |      CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END,
      |      CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END)"""
      .stripMargin

  /** Per-type counts + redacted text for any (doc_id-less) text column —
    * the reusable face. Counts are codegen'd regexp_count; redaction is
    * a fold of regexp_replace (Spark replaces all occurrences by
    * default; the oracle passes the 'g' flag). */
  def piiScan(text: Column): (Seq[(String, Column)], Column) = {
    val counts = piiPatterns.map { case (name, re, _) =>
      name -> regexp_count(text, lit(re)).cast("long")
    }
    val redacted = piiPatterns.foldLeft(text) { case (c, (_, re, token)) =>
      regexp_replace(c, re, java.util.regex.Matcher.quoteReplacement(token))
    }
    (counts, redacted)
  }

  private def piiOracleSql: String = {
    val countExprs = piiPatterns.map { case (name, re, _) =>
      s"  len(regexp_extract_all(aug, '$re')) AS n_$name"
    }.mkString(",\n")
    val sumExpr = piiPatterns.map { case (_, re, _) =>
      s"len(regexp_extract_all(aug, '$re'))"
    }.mkString(" + ")
    val redacted = piiPatterns.foldLeft("aug") { case (e, (_, re, token)) =>
      s"regexp_replace($e, '$re', '$token', 'g')"
    }
    s"""WITH a AS (
       |  SELECT doc_id,
       |    $augmentedTextSql
       |    AS aug
       |  FROM documents)
       |SELECT doc_id,
       |$countExprs,
       |  $sumExpr AS n_pii,
       |  $redacted AS redacted
       |FROM a ORDER BY doc_id""".stripMargin
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- PII scan + redaction: per-type counts and a redacted text
    //      column. Narrow map, fully codegen'd, shuffle-free — streams a
    //      100 TB corpus at scan speed. ----
    "q72_pii_scan_redact" -> QueryDef.sql(piiOracleSql) { (s, dir) =>
      val aug = Tables.documents(s, dir).select(col("doc_id"), augmentedText().as("aug"))
      val (counts, redacted) = piiScan(col("aug"))
      val countCols = counts.map { case (n, c) => c.as(s"n_$n") }
      val total = counts.map(_._2).reduce(_ + _).as("n_pii")
      aug.select(Seq(col("doc_id")) ++ countCols ++ Seq(total, redacted.as("redacted")): _*)
        .orderBy("doc_id")
    },

    // ---- Gopher-style repetition signals: duplicate-word fraction and
    //      the fraction of the doc covered by its single most frequent
    //      word 2-gram / 3-gram. Computed IN-ROW (sort the gram array,
    //      longest equal-run via aggregate()) so the operator is
    //      shuffle-free — the oracle computes the same statistic the
    //      declarative way (unnest + GROUP BY + max). Only counts and
    //      rounded fractions are emitted, never the argmax gram itself,
    //      so tie-breaking cannot differ between engines. ----
    "q73_repetition_stats" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |base AS (SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct_words FROM w),
        |g2 AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS g
        |       FROM w WHERE len(ws) >= 2),
        |t2 AS (SELECT doc_id, max(c) AS top2_cnt
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS g
        |       FROM w WHERE len(ws) >= 3),
        |t3 AS (SELECT doc_id, max(c) AS top3_cnt
        |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
        |SELECT b.doc_id, n_words, n_distinct_words,
        |  CASE WHEN n_words > 0 THEN round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 6)
        |       ELSE 0.0 END AS dup_word_frac,
        |  coalesce(top2_cnt, 0) AS top2_cnt,
        |  CASE WHEN n_words >= 2 THEN round(CAST(coalesce(top2_cnt, 0) AS DOUBLE) / (n_words - 1), 6)
        |       ELSE 0.0 END AS top2_frac,
        |  coalesce(top3_cnt, 0) AS top3_cnt,
        |  CASE WHEN n_words >= 3 THEN round(CAST(coalesce(top3_cnt, 0) AS DOUBLE) / (n_words - 2), 6)
        |       ELSE 0.0 END AS top3_frac
        |FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |ORDER BY doc_id""") { (s, dir) =>
      repetitionStats(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- benchmark decontamination: flag corpus docs sharing word
    //      8-grams with a benchmark set (here: the deterministic
    //      content-hash sample, q44's convention — at 100 TB the bench
    //      side is a genuinely small eval set, hence the broadcast).
    //      Inverted-index equi-join on the shingle, never all-pairs. ----
    "q74_decontamination" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |bench AS (SELECT doc_id FROM documents WHERE substring(md5(text), 1, 1) = '0'),
        |bsh AS (SELECT s.sh, s.doc_id AS b_doc FROM sh s JOIN bench b USING (doc_id)),
        |hits AS (SELECT DISTINCT c.doc_id, c.sh FROM sh c JOIN bsh b
        |         ON c.sh = b.sh AND c.doc_id != b.b_doc),
        |shared AS (SELECT doc_id, count(*) AS n_shared FROM hits GROUP BY 1)
        |SELECT c.doc_id, n_shingles,
        |  coalesce(n_shared, 0) AS n_shared,
        |  round(CAST(coalesce(n_shared, 0) AS DOUBLE) / n_shingles, 6) AS contamination,
        |  coalesce(n_shared, 0) * 2 >= n_shingles AS contaminated
        |FROM cnt c LEFT JOIN shared USING (doc_id)
        |ORDER BY doc_id""") { (s, dir) =>
      // documentsSpread: the 8-gram explode over the corpus side fuses
      // into the single-split scan (measured 2.52 → 2.09 s at sf0.1)
      val docs = Tables.documentsSpread(s, dir)
      decontaminationScan(docs,
        docs.filter(substring(md5(col("text")), 1, 1) === "0")
          .select(col("doc_id").as("bench_id")))
        .orderBy("doc_id")
    },

    // ---- quality-weighted importance sampling: the soft quality gate
    //      (keep with p = 0.1 + 0.9·quality, weight survivors 1/p).
    //      Deterministic multiplicative-hash coin, in-row, zero shuffle
    //      beyond the output sort. ----
    "q104_importance_sample" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |          * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |          * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality,
        |    CAST((doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS u
        |  FROM f),
        |p AS (SELECT doc_id, quality, u, 0.1 + 0.9 * quality AS p_keep FROM q)
        |SELECT doc_id, quality, p_keep, 1.0 / p_keep AS weight
        |FROM p WHERE u < p_keep ORDER BY doc_id""") { (s, dir) =>
      importanceSample(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- temperature-scaled source mixing: rebalance the corpus so the
    //      mixture follows p_s ∝ n_s^α (α=0.5 upweights small sources)
    //      under a 50% total budget — the mT5/UNIMAX sampling step.
    //      Per-source rates via a broadcast sources-sized table; the
    //      same deterministic hash coin as q104. ----
    "q107_temperature_mix" -> QueryDef.sql(
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |sc AS (SELECT source, n_source,
        |         CAST(round(pow(CAST(n_source AS DOUBLE), 0.5), 9) AS DECIMAL(18,9)) AS s
        |       FROM c),
        |tot AS (SELECT sum(s) AS s_tot, sum(n_source) AS n_total FROM sc),
        |r AS (SELECT source, n_source,
        |        least(1.0, round(
        |          floor(CAST(n_total AS DOUBLE) * 0.5)
        |            * (CAST(s AS DOUBLE) / CAST(s_tot AS DOUBLE))
        |            / CAST(n_source AS DOUBLE), 6)) AS rate
        |      FROM sc CROSS JOIN tot),
        |k AS (SELECT d.doc_id, d.source, r.n_source, r.rate,
        |        CAST((d.doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 AS u
        |      FROM documents d JOIN r USING (source))
        |SELECT doc_id, source, n_source, rate, 1.0 / rate AS weight
        |FROM k WHERE u < rate ORDER BY doc_id""") { (s, dir) =>
      temperatureMix(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- T5-style span corruption: the denoising-objective data prep
    //      (Raffel et al. 2020 §3.1.4) — mask ~15% of tokens in fixed
    //      3-token spans, one span per 20-token segment, span offsets
    //      from the q104 hash (pure integer arithmetic, RNG-free);
    //      emit (masked input, sentinel-delimited target). ----
    "q112_span_corruption" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |p AS (SELECT doc_id, ws, len(ws) AS n, len(ws) // 20 AS k FROM w),
        |s AS (SELECT doc_id, ws, n, k,
        |        CASE WHEN k > 0 THEN
        |          [CAST((i - 1) * (n // k) + 1
        |             + ((doc_id * 2654435761 + i * 40503) % 4294967296) % ((n // k) - 2) AS BIGINT)
        |           for i in range(1, k + 1)]
        |        ELSE [] END AS sp
        |      FROM p),
        |o AS (SELECT doc_id, n, k, sp, ws,
        |        array_to_string(list_filter(
        |          [CASE WHEN len(list_filter(sp, x -> pos >= x AND pos <= x + 2)) > 0
        |                THEN CASE WHEN coalesce(list_position(sp, CAST(pos AS BIGINT)), 0) > 0
        |                          THEN '<extra_id_' || CAST(list_position(sp, CAST(pos AS BIGINT)) AS VARCHAR) || '>'
        |                          ELSE NULL END
        |                ELSE ws[pos] END
        |           for pos in range(1, n + 1)], x -> x IS NOT NULL), ' ') AS input_text,
        |        array_to_string(flatten(
        |          [list_concat(['<extra_id_' || CAST(i AS VARCHAR) || '>'], ws[sp[i]:sp[i]+2])
        |           for i in range(1, k + 1)]), ' ') AS target_text
        |      FROM s)
        |SELECT doc_id, n AS n_tokens, k AS n_spans,
        |  CAST(3 * k AS BIGINT) AS n_masked,
        |  round(CAST(3 * k AS DOUBLE) / nullif(n, 0), 6) AS mask_frac,
        |  input_text, target_text
        |FROM o ORDER BY doc_id""") { (s, dir) =>
      spanCorruption(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- fuzzy decontamination: best per-benchmark-doc Jaccard with
    //      attribution (WHICH eval item leaked) — q74's overlap-share
    //      scan can't answer that. Same broadcast-bench inverted-index
    //      shape; candidate pairs, never all-pairs. ----
    "q101_fuzzy_decontamination" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
        |bench AS (SELECT doc_id FROM documents WHERE substring(md5(text), 1, 1) = '0'),
        |bsh AS (SELECT s.sh, s.doc_id AS b_doc FROM sh s JOIN bench b USING (doc_id)),
        |nb AS (SELECT b_doc, count(*) AS n_bench FROM bsh GROUP BY 1),
        |inter AS (SELECT c.doc_id, b.b_doc, count(*) AS n_inter FROM sh c JOIN bsh b
        |          ON c.sh = b.sh AND c.doc_id != b.b_doc GROUP BY 1, 2),
        |j AS (SELECT i.doc_id, i.b_doc,
        |        CAST(n_inter AS DOUBLE) / (c.n_shingles + nb.n_bench - n_inter) AS jac
        |      FROM inter i JOIN cnt c USING (doc_id) JOIN nb USING (b_doc)),
        |best AS (SELECT doc_id, b_doc, jac,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, b_doc) AS rn
        |         FROM j)
        |SELECT c.doc_id, c.n_shingles, b.b_doc AS best_bench,
        |  round(coalesce(b.jac, 0.0), 6) AS best_jaccard,
        |  coalesce(b.jac, 0.0) >= 0.5 AS contaminated_near
        |FROM cnt c LEFT JOIN (SELECT doc_id, b_doc, jac FROM best WHERE rn = 1) b USING (doc_id)
        |ORDER BY doc_id""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      fuzzyDecontaminationScan(docs,
        docs.filter(substring(md5(col("text")), 1, 1) === "0")
          .select(col("doc_id").as("bench_id")))
        .orderBy("doc_id")
    },

    // ---- Bloom-filter decontamination: the zero-corpus-shuffle face of
    //      q74 — bench shingles → one-row broadcast bit array, corpus
    //      probes in-row. ORACLE-CHECKED: the md5-derived Kirsch–
    //      Mitzenmacher family is engine-agnostic, and the oracle
    //      expresses the bit array as what it mathematically is — the
    //      SET of set positions — probing each corpus shingle's 5
    //      positions against it relationally. CurationSpec additionally
    //      pins the superset guarantee + measured FPR vs the exact scan. ----
    "q123_bloom_decontamination" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT doc_id FROM documents WHERE substring(md5(text), 1, 1) = '0'),
        |bsh AS (SELECT DISTINCT s.sh FROM sh s JOIN bench b USING (doc_id)),
        |bpos AS (SELECT DISTINCT
        |           (CAST(('0x' || substr(md5(sh), 1, 14)) AS BIGINT)
        |            + j * (CAST(('0x' || substr(md5(sh), 15, 14)) AS BIGINT) * 2 + 1))
        |             % 131072 AS p
        |         FROM bsh, range(0, 5) t(j)),
        |cpos AS (SELECT DISTINCT doc_id, sh,
        |           (CAST(('0x' || substr(md5(sh), 1, 14)) AS BIGINT)
        |            + j * (CAST(('0x' || substr(md5(sh), 15, 14)) AS BIGINT) * 2 + 1))
        |             % 131072 AS p
        |         FROM sh, range(0, 5) t(j)),
        |hit AS (SELECT doc_id, sh, count(*) AS k,
        |          sum(CASE WHEN p IN (SELECT p FROM bpos) THEN 1 ELSE 0 END) AS kin
        |        FROM cpos GROUP BY 1, 2),
        |agg AS (SELECT doc_id, count(*) AS n_shingles,
        |          CAST(sum(CASE WHEN kin = k THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe
        |        FROM hit GROUP BY 1)
        |SELECT doc_id, n_shingles, n_maybe,
        |  round(CAST(n_maybe AS DOUBLE) / n_shingles, 6) AS contamination_ub,
        |  n_maybe * 2 >= n_shingles AS contaminated_ub
        |FROM agg ORDER BY doc_id""") { (s, dir) =>
      // documentsSpread (r17): the Bloom probe loop over the corpus
      // fused into the single-split scan as two ~1.2 s tasks (JobProfile);
      // the bit array is built over md5/xxhash of the SAME strings either
      // way — partitioning cannot move a bit
      val docs = Tables.documentsSpread(s, dir)
      bloomDecontaminationScan(docs,
        docs.filter(substring(md5(col("text")), 1, 1) === "0")
          .select(col("doc_id").as("bench_id")))
        .orderBy("doc_id")
    },

    // ---- Gopher-rule document filter (Rae et al. 2021, Appendix A):
    //      the published heuristic gate with PER-RULE attribution — each
    //      rule is its own boolean column, so a corpus audit can report
    //      WHICH rule rejects how many docs (q41's composite score can't
    //      say). Published thresholds kept verbatim; the required-word
    //      LIST is the corpus's own stopword inventory (see
    //      gopherRequiredWords scaladoc — the English list would
    //      constant-fail this vocabulary). Every rule compares the
    //      ROUNDED statistic, so boundary docs land identically in both
    //      engines. Pure in-row expressions — one pruned scan, zero
    //      shuffle beyond the output sort, streams at scan speed. ----
    "q133_gopher_rules" -> QueryDef.sql(
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS n_words,
        |    list_sum(list_transform(ws, w -> length(w))) AS char_sum,
        |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
        |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter([${requiredWordsSqlList(corpusRequiredWords)}], r -> list_contains(ws, r))) AS n_required
        |  FROM f),
        |m AS (SELECT doc_id, n_words,
        |    round(CAST(char_sum AS DOUBLE) / nullif(n_words, 0), 6) AS mean_word_len,
        |    round(CAST(n_sym AS DOUBLE) / nullif(n_words, 0), 6) AS symbol_word_ratio,
        |    round(CAST(n_alpha AS DOUBLE) / nullif(n_words, 0), 6) AS alpha_word_frac,
        |    n_required
        |  FROM s),
        |r AS (SELECT *,
        |    n_words BETWEEN 50 AND 100000 AS r_word_count,
        |    coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false) AS r_mean_word_len,
        |    coalesce(symbol_word_ratio <= 0.1, false) AS r_symbol_ratio,
        |    coalesce(alpha_word_frac >= 0.8, false) AS r_alpha_words,
        |    n_required >= 2 AS r_required_words
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
        |  alpha_word_frac, n_required, r_word_count, r_mean_word_len,
        |  r_symbol_ratio, r_alpha_words, r_required_words,
        |  5 - (CAST(r_word_count AS INT) + CAST(r_mean_word_len AS INT)
        |     + CAST(r_symbol_ratio AS INT) + CAST(r_alpha_words AS INT)
        |     + CAST(r_required_words AS INT)) AS n_failed,
        |  r_word_count AND r_mean_word_len AND r_symbol_ratio
        |    AND r_alpha_words AND r_required_words AS keep
        |FROM r ORDER BY doc_id""") { (s, dir) =>
      gopherRules(Tables.documents(s, dir), corpusRequiredWords).orderBy("doc_id")
    },

    // ---- heavy-tail index: Hill estimator over the top token counts —
    //      ties at the boundary provably cannot change the answer. ----
    "q184_tail_index_hill" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x != '')) AS BIGINT) AS nt
        |  FROM documents),
        |top AS (SELECT * FROM t WHERE nt > 0
        |        ORDER BY nt DESC, doc_id LIMIT 101),
        |x AS (SELECT min(nt) AS x_ref FROM top),
        |s AS (SELECT x_ref, count(*) AS m,
        |    sum(CAST(round(ln(CAST(nt AS DOUBLE) / x_ref), 9) AS DECIMAL(18,9))) AS s
        |  FROM top CROSS JOIN x GROUP BY x_ref)
        |SELECT CAST(m - 1 AS BIGINT) AS k, x_ref,
        |  round(CAST(s AS DOUBLE), 6) AS sum_log,
        |  round(CAST(m - 1 AS DOUBLE) / nullif(CAST(s AS DOUBLE), 0.0), 6) AS alpha
        |FROM s""") { (s, dir) =>
      tailIndexHill(Tables.documents(s, dir))
    },

    // ---- filter-agreement audit: pairwise Cohen's kappa between the
    //      Gopher gate, the quality threshold, and the entropy floor. ----
    "q183_filter_agreement" -> QueryDef.sql(
      s"""WITH f AS (SELECT doc_id, text,
        |    list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, len(ws) AS n_words,
        |    list_sum(list_transform(ws, w -> length(w))) AS char_sum,
        |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym,
        |    len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(list_filter([${requiredWordsSqlList(corpusRequiredWords)}], r -> list_contains(ws, r))) AS n_required
        |  FROM f),
        |m AS (SELECT doc_id,
        |    n_words BETWEEN 50 AND 100000
        |      AND coalesce(round(CAST(char_sum AS DOUBLE) / nullif(n_words, 0), 6) BETWEEN 3.0 AND 10.0, false)
        |      AND coalesce(round(CAST(n_sym AS DOUBLE) / nullif(n_words, 0), 6) <= 0.1, false)
        |      AND coalesce(round(CAST(n_alpha AS DOUBLE) / nullif(n_words, 0), 6) >= 0.8, false)
        |      AND n_required >= 2 AS gopher
        |  FROM s),
        |qf AS (SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |qq AS (SELECT doc_id,
        |    coalesce(round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |      * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |      * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) >= 0.5,
        |      false) AS quality
        |  FROM qf),
        |cells AS (SELECT doc_id, c, count(*) AS cn FROM (
        |    SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |  WHERE c != '' GROUP BY 1, 2),
        |ent AS (SELECT doc_id,
        |    round(ln(CAST(sum(cn) AS BIGINT))
        |      - CAST(sum(CAST(round(cn * ln(cn), 9) AS DECIMAL(18,9))) AS DOUBLE)
        |        / CAST(sum(cn) AS BIGINT), 6) AS h
        |  FROM cells GROUP BY 1),
        |flags AS (SELECT m.doc_id, m.gopher, qq.quality,
        |    coalesce(ent.h >= 3.0, false) AS entropy
        |  FROM m JOIN qq USING (doc_id) LEFT JOIN ent USING (doc_id)),
        |pairs(filter_a, filter_b) AS (VALUES ('entropy', 'gopher'),
        |  ('entropy', 'quality'), ('gopher', 'quality')),
        |conf AS (SELECT filter_a, filter_b,
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM pairs JOIN (
        |    SELECT doc_id, gopher, quality, entropy FROM flags) fl ON true
        |  CROSS JOIN LATERAL (SELECT
        |    CASE filter_a WHEN 'gopher' THEN gopher WHEN 'quality' THEN quality ELSE entropy END AS a,
        |    CASE filter_b WHEN 'gopher' THEN gopher WHEN 'quality' THEN quality ELSE entropy END AS b) x
        |  GROUP BY 1, 2)
        |SELECT filter_a, filter_b, n,
        |  CAST(n11 + n00 AS BIGINT) AS n_agree,
        |  round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS agree_rate,
        |  round(CAST(CAST(n AS HUGEINT) * (n11 + n00)
        |      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
        |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE)
        |    / nullif(CAST(CAST(n AS HUGEINT) * n
        |      - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
        |        + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS DOUBLE), 0.0), 6) AS kappa
        |FROM conf ORDER BY filter_a, filter_b""") { (s, dir) =>
      filterAgreement(Tables.documents(s, dir))
    },

    // ---- Neyman minimum-variance budget allocation: integerized
    //      largest-remainder — allocations sum to exactly B. ----
    "q179_neyman_allocation" -> QueryDef.sql(
      """WITH t AS (SELECT source,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x != '')) AS BIGINT) AS x
        |  FROM documents),
        |s AS (SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(x * x) AS BIGINT) AS sxx FROM t GROUP BY 1),
        |w AS (SELECT source, n,
        |    CASE WHEN n > 1 THEN round(sqrt(
        |      CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE)), 6) ELSE 0.0 END AS sd
        |  FROM s),
        |wi AS (SELECT *, CAST(CAST(round(n * sd, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w_int
        |       FROM w),
        |tot AS (SELECT CAST(sum(w_int) AS BIGINT) AS w_tot FROM wi),
        |b AS (SELECT wi.*, w_tot,
        |    CASE WHEN w_tot > 0 THEN (10000 * w_int) // w_tot ELSE 0 END AS base,
        |    CASE WHEN w_tot > 0 THEN (10000 * w_int) % w_tot ELSE 0 END AS rem
        |  FROM wi CROSS JOIN tot),
        |k AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS k FROM b),
        |r AS (SELECT b.*, k.k,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b CROSS JOIN k)
        |SELECT source, n AS n_docs, sd,
        |  round(CAST(w_int AS DOUBLE) / 1e6, 6) AS weight,
        |  CAST(base + CASE WHEN rk <= k THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""") { (s, dir) =>
      neymanAllocation(Tables.documents(s, dir))
    },

    // ---- Poisson-bootstrap CI on per-source mean quality: error bars
    //      from deterministic hash-coin resample weights. ----
    "q171_bootstrap_quality_ci" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id, source,
        |    round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |      * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |      * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f),
        |base AS (SELECT * FROM q WHERE quality IS NOT NULL),
        |pt AS (SELECT source, count(*) AS n_docs,
        |         round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_quality
        |       FROM base GROUP BY 1),
        |r AS (SELECT source, doc_id, quality, CAST(i AS BIGINT) AS b
        |      FROM base, unnest(range(1, 51)) t(i)),
        |wts AS (SELECT source, b, quality,
        |    CASE WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
        |         WHEN u < 0.919698603 THEN 2 ELSE 3 END AS w
        |  FROM (SELECT *, CAST((((doc_id % 2147483648) * 131071 + b) % 2147483648
        |            * 2654435761) % 4294967296 AS DOUBLE)
        |          / 4294967296.0 AS u FROM r)),
        |rep AS (SELECT source, b,
        |    round(CAST(sum(CAST(w * quality AS DECIMAL(18,6))) AS DOUBLE)
        |      / nullif(CAST(sum(w) AS BIGINT), 0), 6) AS rep_mean
        |  FROM wts GROUP BY 1, 2),
        |ci AS (SELECT source,
        |    round(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
        |    round(quantile_cont(rep_mean, 0.975), 6) AS ci_hi
        |  FROM rep GROUP BY 1)
        |SELECT source, n_docs, mean_quality, ci_lo, ci_hi
        |FROM pt JOIN ci USING (source) ORDER BY source""") { (s, dir) =>
      bootstrapQualityCi(Tables.documents(s, dir))
    },

    // ---- Heaps-law vocabulary growth: new-word arrivals per ingestion
    //      bucket with cumulative docs/vocab. ----
    "q165_vocab_growth" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split(trim(text),' '), x -> x != '')) AS w
        |  FROM documents),
        |fd AS (SELECT w, min(doc_id) AS fd FROM t GROUP BY 1),
        |nw AS (SELECT fd // 100 AS bucket, count(*) AS n_new_words FROM fd GROUP BY 1),
        |dc AS (SELECT doc_id // 100 AS bucket, count(*) AS n_docs
        |       FROM documents GROUP BY 1)
        |SELECT bucket, n_docs,
        |  coalesce(n_new_words, 0) AS n_new_words,
        |  CAST(sum(n_docs) OVER cw AS BIGINT) AS cum_docs,
        |  CAST(sum(coalesce(n_new_words, 0)) OVER cw AS BIGINT) AS cum_vocab
        |FROM dc LEFT JOIN nw USING (bucket)
        |WINDOW cw AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY bucket""") { (s, dir) =>
      vocabGrowth(Tables.documents(s, dir))
    },

    // ---- token-mass concentration: per-source Gini + top-decile share
    //      from the length HISTOGRAM in closed form — the oracle's
    //      per-row rank windows prove the decomposition exact. ----
    "q157_token_gini" -> QueryDef.sql(
      """WITH t AS (SELECT source, doc_id,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS nt
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY source) AS n_src FROM t),
        |f AS (SELECT source, nt, rk, n_src,
        |        rk > n_src - n_src // 10 AS is_top FROM r),
        |g AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(nt) AS BIGINT) AS token_sum,
        |        CAST(sum(rk * nt) AS BIGINT) AS s1,
        |        CAST(sum(CASE WHEN is_top THEN nt ELSE 0 END) AS BIGINT) AS top_sum
        |      FROM f GROUP BY 1)
        |SELECT source, n_docs, token_sum,
        |  round(2.0 * s1 / CAST(n_docs * token_sum AS DOUBLE)
        |    - CAST(n_docs + 1 AS DOUBLE) / n_docs, 6) AS gini,
        |  round(CAST(top_sum AS DOUBLE) / token_sum, 6) AS top_decile_share
        |FROM g ORDER BY source""") { (s, dir) =>
      tokenGini(Tables.documents(s, dir))
    },

    // ---- padding-waste audit: arrival vs length-sorted batching at a
    //      fixed batch size; hierarchical ranks, oracle's global
    //      windows prove them exact. ----
    "q149_padding_waste" -> QueryDef.sql(
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS nt
        |  FROM documents),
        |a AS (SELECT 'arrival' AS strategy,
        |        (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS bid, nt FROM t
        |      UNION ALL
        |      SELECT 'sorted',
        |        (row_number() OVER (ORDER BY nt, doc_id) - 1) // 32, nt FROM t),
        |b AS (SELECT strategy, bid, count(*) AS cnt, max(nt) AS mx, sum(nt) AS sm
        |      FROM a GROUP BY 1, 2)
        |SELECT strategy, CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  count(*) AS n_batches,
        |  CAST(sum(sm) AS BIGINT) AS token_sum,
        |  CAST(sum(mx * cnt) AS BIGINT) AS slot_sum,
        |  round(1.0 - CAST(sum(sm) AS DOUBLE) / sum(mx * cnt), 6) AS waste_frac
        |FROM b GROUP BY 1 ORDER BY strategy""") { (s, dir) =>
      paddingWaste(Tables.documents(s, dir))
    },

    // ---- UniMax epoch-capped allocation (Chung et al. 2023): uniform
    //      budget split with small sources capped at one epoch and the
    //      leftover redistributed — the waterfall in closed form, its
    //      capped flag pure integer arithmetic. ----
    "q140_unimax_allocation" -> QueryDef.sql(
      """WITH t AS (SELECT source,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS nt
        |  FROM documents),
        |m AS (SELECT source, CAST(sum(nt) AS BIGINT) AS m FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(m) AS BIGINT) AS m_total FROM m),
        |r AS (SELECT source, m, m AS cap, m_total,
        |        row_number() OVER (ORDER BY m, source) AS i,
        |        count(*) OVER () AS s_total,
        |        coalesce(sum(m) OVER (ORDER BY m, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM m CROSS JOIN tot),
        |f AS (SELECT *,
        |        cap * (s_total - i + 1) * 10 < m_total * 9 - cum * 10 AS capped
        |      FROM r),
        |cs AS (SELECT CAST(sum(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT) AS cap_sum,
        |         CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        |       FROM f)
        |SELECT source, m AS n_tokens, cap AS capacity, capped,
        |  round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
        |        ELSE CAST(m_total * 9 - cap_sum * 10 AS DOUBLE)
        |             / (10 * (s_total - n_capped)) END, 6) AS allocated,
        |  round(CASE WHEN capped THEN 1.0
        |        ELSE CAST(m_total * 9 - cap_sum * 10 AS DOUBLE)
        |             / (10 * (s_total - n_capped)) / m END, 6) AS epochs
        |FROM f CROSS JOIN cs ORDER BY source""") { (s, dir) =>
      unimaxAllocation(Tables.documents(s, dir))
    },

    // ---- DSIR importance weights (Xie et al. 2023): per-doc log
    //      likelihood ratio of the hashed-unigram bag under target
    //      (reference slice) vs raw multinomials, + per-source top-25%
    //      selection. The model-light cousin of the q110 classifier:
    //      no training loop, just two smoothed count vectors — the
    //      selection method the paper showed competitive with trained
    //      filters. Per-step-mod polynomial hash (overflow-safe, engine-
    //      identical); DECIMAL(18,9) contributions; integer-rank
    //      selection per source. ----
    "q134_dsir_weights" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, source, substring(md5(text), 1, 1) <= '3' AS is_ref,
        |             list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |tok AS (SELECT doc_id, source, is_ref, unnest(ws) AS t FROM w),
        |tb AS (SELECT doc_id, source, is_ref,
        |         list_reduce([ord(substring(t, i, 1)) for i in range(1, length(t)+1)],
        |                     (h, c) -> (h*31 + c) % 1048576) % 512 AS b
        |       FROM tok),
        |st AS (SELECT b, count(*) FILTER (WHERE is_ref) AS ct,
        |         count(*) FILTER (WHERE NOT is_ref) AS cr FROM tb GROUP BY 1),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM st),
        |lp AS (SELECT b, ln((ct + 0.5) / (nt + 256.0)) - ln((cr + 0.5) / (nr + 256.0)) AS diff
        |       FROM st CROSS JOIN tot),
        |db AS (SELECT doc_id, source, b, count(*) AS c FROM tb GROUP BY 1, 2, 3),
        |contrib AS (SELECT doc_id, source, c,
        |    CAST(round(c * diff, 9) AS DECIMAL(18,9)) AS lw
        |  FROM db JOIN lp USING (b)),
        |scored AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    round(CAST(sum(lw) AS DOUBLE), 6) AS log_weight
        |  FROM contrib GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY source ORDER BY log_weight DESC, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY source) AS n
        |      FROM scored)
        |SELECT doc_id, source, n_tokens, log_weight, (rn - 1) * 4 < n AS selected
        |FROM r ORDER BY doc_id""") { (s, dir) =>
      dsirWeights(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- corpus-self-trained bigram LM quality score (the CCNet-shaped
    //      perplexity gate, Wenzek et al. 2019, with the LM trained on
    //      the corpus itself instead of an external model): per-doc mean
    //      negative log prob under an add-k-smoothed bigram model. Low
    //      score = typical text, high = gibberish/outlier — the
    //      model-free stand-in for an LM-perplexity filter. Per-bigram
    //      contributions round to DECIMAL(18,9) pre-sum (the q84
    //      determinism discipline), so the mean is engine- and
    //      partitioning-independent. ----
    "q87_lm_bigram_score" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |bb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bb GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bb GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM bb),
        |contrib AS (SELECT bb.doc_id,
        |    CAST(round(-ln((c12 + 0.5) / (c1 + 0.5 * v)), 9) AS DECIMAL(18,9)) AS nll
        |  FROM bb JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS lm_nll
        |FROM contrib GROUP BY 1 ORDER BY doc_id""") { (s, dir) =>
      lmBigramScore(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- CCNet-style perplexity bucketing (Wenzek et al. 2019, the
    //      apply face of q87): the bigram LM trains on a REFERENCE
    //      slice only (the md5-prefix convention, ≈25% of docs — the
    //      stand-in for "Wikipedia-quality" text), every doc is scored
    //      against it (unseen histories fall back to the uniform
    //      smoothed mass), and docs split head/middle/tail per source
    //      by NLL tertile. Head-bucket text "looks like the reference";
    //      tail is the gibberish CCNet drops. Tertile boundaries are
    //      integer rank arithmetic — no float thresholds to drift
    //      between engines. ----
    "q105_perplexity_buckets" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, source, substring(md5(text), 1, 1) <= '3' AS is_ref,
        |             list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, source, is_ref,
        |         unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |bb AS (SELECT doc_id, source, is_ref, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bb WHERE is_ref GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bb WHERE is_ref GROUP BY 1),
        |v AS (SELECT count(DISTINCT w2) AS v FROM bb WHERE is_ref),
        |contrib AS (SELECT bb.doc_id, bb.source,
        |    CAST(round(-ln((coalesce(c12, 0) + 0.5) / (coalesce(c1, 0) + 0.5 * v)), 9)
        |      AS DECIMAL(18,9)) AS nll
        |  FROM bb LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v),
        |scored AS (SELECT doc_id, source, count(*) AS n_bigrams,
        |    round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS lm_nll
        |  FROM contrib GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY source ORDER BY lm_nll, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY source) AS n
        |      FROM scored)
        |SELECT doc_id, source, n_bigrams, lm_nll,
        |  CASE WHEN (rn - 1) * 3 < n THEN 'head'
        |       WHEN (rn - 1) * 3 < 2 * n THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""") { (s, dir) =>
      perplexityBuckets(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- BPE merge-pair counts (the map-reduce inner loop of BPE
    //      tokenizer training, Sennrich et al. 2016): corpus-weighted
    //      frequencies of adjacent character pairs over the word
    //      vocabulary — the statistic whose argmax is the next merge.
    //      Pure integer arithmetic end to end, so no determinism
    //      machinery is needed; top-k with a total tie-break. ----
    "q88_bpe_pair_counts" -> QueryDef.sql(
      """WITH tok AS (SELECT unnest(list_filter(string_split(trim(text),' '), x -> x != '')) AS w
        |             FROM documents),
        |vocab AS (SELECT w, count(*) AS wc FROM tok GROUP BY 1),
        |pairs AS (SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r, wc
        |          FROM (SELECT w, wc, unnest(range(1, length(w))) AS i
        |                FROM vocab WHERE length(w) >= 2)),
        |agg AS (SELECT l, r, CAST(sum(wc) AS BIGINT) AS pair_count FROM pairs GROUP BY 1, 2)
        |SELECT l, r, pair_count FROM agg
        |ORDER BY pair_count DESC, l, r
        |LIMIT 100""") { (s, dir) =>
      bpePairCounts(Tables.documents(s, dir), topK = 100)
    },

    // ---- full BPE training (the loop whose single step is q88): 30
    //      ordered merges. ORACLE-CHECKED since r13: the FIXED merge
    //      count unrolls the loop into 30 relational stages DuckDB
    //      replays verbatim (the q110 unrolled-loop pattern) — per-round
    //      adjacent-pair counts, the sentinel-guarded (count DESC, l, r)
    //      argmax, and the greedy left-to-right merge as a string-
    //      accumulator list_reduce whose separator is the one character
    //      words can never contain (the corpus splits on ' '); see
    //      [[dkBpeTrainCtes]]. CurationSpec's hand-computed merge tables
    //      and the GoldenSpec digests remain. ----
    "q102_bpe_train_merges" -> QueryDef.sql(dkBpeQ102Sql) { (s, dir) =>
      bpeTrainMerges(Tables.documents(s, dir)).orderBy("merge_rank")
    },

    // ---- BPE apply (q102's tokenize face, the q90/q95 detect/apply
    //      pattern): train on the corpus, then tokenize it and report
    //      per-doc fertility. Merge table broadcast as one ordered
    //      array row; tokenization is an in-row nested fold — zero
    //      shuffle over the corpus. ORACLE-CHECKED since r13: the
    //      unrolled training's final vocabulary IS the per-word
    //      segmentation (train and apply share the fold), so the oracle
    //      joins it back onto the token stream. ----
    "q103_bpe_tokenize" -> QueryDef.sql(dkBpeQ103Sql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      bpeTokenize(docs, bpeTrainMerges(docs)).orderBy("doc_id")
    },

    // ---- per-source vocab cardinality via mergeable HLL sketches,
    //      ORACLE-CHECKED: the declared face runs the engine-agnostic
    //      md5 register family ([[Sketches.hllRegsMd5]]) whose exact
    //      scaled-integer harmonic sums DuckDB replays register for
    //      register; the DataSketches hll_sketch_agg lane
    //      ([[vocabSketches]]) stays the production default,
    //      accuracy-gated + merge-pinned in CurationSpec. ----
    "q89_vocab_sketch" -> QueryDef.sql(
      s"""WITH wt AS (SELECT source, unnest(list_filter(string_split(trim(text),' '), x -> x != '')) AS w
         |           FROM documents),
         |regs AS (${Sketches.hllRegsSql("wt", "source", "w")}),
         |fin AS (${Sketches.hllEstimateSql("regs", "source", "est")})
         |SELECT source, round(est, 3) AS approx_vocab FROM fin
         |ORDER BY source""") { (s, dir) =>
      vocabCardinalityMd5(Tables.documents(s, dir))
        .orderBy("source")
    },

    // ---- q96's mergeable-sketch scale face (the q89 pattern applied to
    //      the overlap matrix): per-source HLL sketches of the 8-gram
    //      sets + inclusion-exclusion pairwise estimates. Rows-only —
    //      gated vs the exact q96 matrix and merge==full pinned in
    //      CurationSpec; golden-digested. ----
    // ---- KMV direct-intersection overlap matrix: q98's audit with the
    //      estimator whose error scales with the INTERSECTION (HLL
    //      inclusion–exclusion degrades on near-disjoint pairs); exact
    //      below k distinct shingles per source. rows-only; CurationSpec
    //      gates error vs exact q96, pins sub-k exactness and merge
    //      associativity; golden-pinned. ----
    //      ORACLE-CHECKED via the md5 KMV lane (60-bit hashes = the
    //      first 15 md5 hex chars): DuckDB replays the bottom-k sketch,
    //      the union-truncate merge, and the direct ρ·D_∪ intersection
    //      estimator row for row. The xxhash64 lane stays the
    //      production default, gated in CurationSpec.
    "q208_source_overlap_kmv" -> QueryDef.sql(
      """WITH w AS (SELECT source, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |shl AS (SELECT DISTINCT source,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |hv AS (SELECT DISTINCT source, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hv FROM shl),
        |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv),
        |kept AS (SELECT source, hv FROM r WHERE rn <= 256),
        |sa AS (SELECT source, count(*) AS nd, max(hv) AS xk FROM kept GROUP BY 1),
        |prs AS (SELECT a.source AS src_a, b.source AS src_b
        |        FROM sa a, sa b WHERE a.source != b.source),
        |ph AS (SELECT p.src_a, p.src_b, k.hv,
        |         max(CASE WHEN k.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
        |         max(CASE WHEN k.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        |       FROM prs p JOIN kept k ON k.source = p.src_a OR k.source = p.src_b
        |       GROUP BY 1, 2, 3),
        |ur AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY hv) AS rn FROM ph),
        |uu AS (SELECT src_a, src_b, count(*) AS nu, max(hv) AS xku,
        |         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS rho_n
        |       FROM ur WHERE rn <= 256 GROUP BY 1, 2),
        |fin AS (SELECT u.src_a, u.src_b, u.rho_n, u.nu,
        |    CASE WHEN a.nd < 256 THEN CAST(a.nd AS DOUBLE)
        |         ELSE 255.0 / (CAST(a.xk AS DOUBLE) / 1.152921504606846976e18) END AS d_a,
        |    CASE WHEN u.nu < 256 THEN CAST(u.nu AS DOUBLE)
        |         ELSE 255.0 / (CAST(u.xku AS DOUBLE) / 1.152921504606846976e18) END AS d_u
        |  FROM uu u JOIN sa a ON a.source = u.src_a)
        |SELECT src_a, src_b, round(d_a, 3) AS n_a_approx,
        |  round(CAST(rho_n AS DOUBLE) / nu * d_u, 3) AS n_common_approx,
        |  round(CAST(rho_n AS DOUBLE) / nu * d_u / d_a, 6) AS overlap_frac_approx
        |FROM fin ORDER BY src_a, src_b""") { (s, dir) =>
      sourceOverlapKmv(
          sourceShingleKmv(Tables.documents(s, dir), family = "md5"),
          normalizer = 1.152921504606846976e18)
        .orderBy("src_a", "src_b")
    },

    //      ORACLE-CHECKED via the md5 HLL register family: DuckDB
    //      replays the per-source registers, the pairwise register-max
    //      unions, and inclusion–exclusion — the full q98 sketch path.
    //      The DataSketches lane ([[sourceOverlapSketched]]) stays the
    //      production default, gated in CurationSpec.
    "q98_source_overlap_sketch" -> QueryDef.sql(
      s"""WITH w AS (SELECT source, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
         |           FROM documents),
         |shl AS (SELECT source,
         |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
         |       FROM w WHERE len(ws) >= 8),
         |regs AS (${Sketches.hllRegsSql("shl", "source", "sh")}),
         |est AS (${Sketches.hllEstimateSql("regs", "source", "est_s")}),
         |prs AS (SELECT a.source AS src_a, b.source AS src_b,
         |          a.est_s AS est_a, b.est_s AS est_b
         |        FROM est a, est b WHERE a.source != b.source),
         |uregs AS (SELECT p.src_a, p.src_b, r.reg, max(r.r) AS r
         |          FROM (SELECT DISTINCT src_a, src_b FROM prs) p
         |          JOIN regs r ON r.source = p.src_a OR r.source = p.src_b
         |          GROUP BY 1, 2, 3),
         |uest AS (${Sketches.hllEstimateSql("uregs", "src_a, src_b", "est_u")})
         |SELECT p.src_a, p.src_b, round(est_a, 3) AS n_a_approx,
         |  round(greatest(est_a + est_b - est_u, 0.0), 3) AS n_common_approx,
         |  round(greatest(est_a + est_b - est_u, 0.0) / est_a, 6) AS overlap_frac_approx
         |FROM prs p JOIN uest u ON u.src_a = p.src_a AND u.src_b = p.src_b
         |ORDER BY 1, 2""") { (s, dir) =>
      // documentsSpread (r17): the per-source HLL register fold over
      // 8-gram md5s ran as one 2.7 s task fused into the single-split
      // scan (JobProfile) — registers are per-(source, register-index)
      // maxes, partitioning-proof by construction
      sourceOverlapHllMd5(Tables.documentsSpread(s, dir))
        .orderBy("src_a", "src_b")
    },

    // ---- sliding-window token chunking (the RAG/embedding-prep face;
    //      complements q82's concat-and-pack: packing concatenates docs
    //      into fixed sequences, chunking SPLITS each doc into
    //      overlapping windows). Pure in-row explode, corpus never
    //      shuffles. ----
    "q100_chunk_windows" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 32)) AS tok_start FROM w)
        |SELECT doc_id, tok_start // 32 AS chunk_id, tok_start,
        |  CAST(len(list_slice(ws, tok_start + 1, tok_start + 64)) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(ws, tok_start + 1, tok_start + 64), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""") { (s, dir) =>
      chunkWindows(Tables.documents(s, dir)).orderBy("doc_id", "chunk_id")
    },

    // ---- per-source corpus profile (the dataset datasheet): doc/token
    //      totals, token-count and quality percentiles, language mix —
    //      the summary table a corpus release ships and a mixing run
    //      reads. One in-row projection + one bounded aggregation. ----
    "q99_source_profile" -> QueryDef.sql(
      """WITH f AS (SELECT source, lang,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |t AS (SELECT source, lang, n_chars, n_words AS n_tokens,
        |  round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |        * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |        * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 6) AS tokens_p50,
        |  round(quantile_cont(n_tokens, 0.95), 6) AS tokens_p95,
        |  round(quantile_cont(quality, 0.5), 6) AS quality_p50,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
        |  round(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE) / count(*), 6) AS frac_en
        |FROM t GROUP BY source ORDER BY source""") { (s, dir) =>
      sourceProfile(Tables.documents(s, dir)).orderBy("source")
    },

    // ---- cross-document repeated spans (boilerplate detection — the
    //      Spark-shaped cousin of suffix-array substring dedup, Lee et
    //      al. 2022 "Deduplicating Training Data Makes LMs Better"):
    //      verbatim 8-token windows occurring in >= 2 distinct docs,
    //      ranked by total occurrences. Unlike q51 (doc-level Jaccard)
    //      and q74 (vs a bench set), this finds the repeated SPANS
    //      themselves — headers, license blocks, navigation chrome. ----
    "q90_repeated_spans" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS span
        |       FROM w WHERE len(ws) >= 8),
        |agg AS (SELECT span, count(*) AS n_occurrences,
        |          count(DISTINCT doc_id) AS n_docs
        |        FROM sp GROUP BY 1)
        |SELECT span, n_occurrences, n_docs FROM agg
        |WHERE n_docs >= 2
        |ORDER BY n_occurrences DESC, span
        |LIMIT 100""") { (s, dir) =>
      repeatedSpans(Tables.documents(s, dir), n = 8, minDocs = 2, topK = 100)
    },

    // ---- the hash-space scale face of q90: same oracle, same output,
    //      but the corpus-sized shuffle carries 8-byte xxhash64 keys and
    //      span text is recovered only for the ~k winners (q51/q78
    //      two-face pattern). ----
    "q92_repeated_spans_hashed" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS span
        |       FROM w WHERE len(ws) >= 8),
        |agg AS (SELECT span, count(*) AS n_occurrences,
        |          count(DISTINCT doc_id) AS n_docs
        |        FROM sp GROUP BY 1)
        |SELECT span, n_occurrences, n_docs FROM agg
        |WHERE n_docs >= 2
        |ORDER BY n_occurrences DESC, span
        |LIMIT 100""") { (s, dir) =>
      repeatedSpansHashed(Tables.documents(s, dir), n = 8, minDocs = 2, topK = 100)
    },

    // ---- boilerplate STRIP (the apply step for q90's detection): fold
    //      replace() over the broadcast top-span array in-row; audit
    //      columns only, corpus never shuffles. ----
    "q95_boilerplate_strip" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sp AS (SELECT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS span
        |       FROM w WHERE len(ws) >= 8),
        |agg AS (SELECT span, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        |        FROM sp GROUP BY 1),
        |top AS (SELECT span FROM agg WHERE n_docs >= 2
        |        ORDER BY n_occurrences DESC, span LIMIT 20),
        |spans AS (SELECT coalesce(list_sort(list(span)), []) AS spans FROM top),
        |stripped AS (SELECT d.doc_id, d.text,
        |    list_reduce(list_prepend(d.text, s.spans), (acc, x) -> replace(acc, x, ' ')) AS st
        |  FROM documents d CROSS JOIN spans s)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(st) AS BIGINT) AS n_chars_stripped,
        |  length(st) != length(text) AS changed
        |FROM stripped ORDER BY doc_id""") { (s, dir) =>
      boilerplateStrip(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- per-document n-gram novelty: share of a doc's distinct
    //      3-grams appearing in no other document — the per-doc
    //      complement of q90's repeated spans, used to down-rank
    //      template/mirror/aggregator pages in crawl curation. ----
    "q94_ngram_novelty" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1)
        |SELECT doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
        |FROM sh JOIN dfreq USING (sh)
        |GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      ngramNovelty(Tables.documents(s, dir), n = 3).orderBy("doc_id")
    },

    // ---- stratified deterministic sample: top-n docs per stratum
    //      (lang), ranked by content hash — the reproducible stratified
    //      subsample a training pipeline takes (same rows on every
    //      engine/run/cluster size; q44's determinism discipline, per
    //      stratum). One shuffle by stratum; rank-k cutoff pushes the
    //      window's limit into the sort. ----
    "q76_stratified_sample" -> QueryDef.sql(
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars, md5(text) AS h,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rnk
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, h, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 20 ORDER BY lang, rnk""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 20)
        .orderBy("lang", "rnk")
    },

    // ---- token-budget corpus mixing: greedily fill a per-source token
    //      budget in deterministic content-hash order (how a pipeline
    //      draws a fixed token mix from many sources without an RNG to
    //      coordinate). A doc is taken iff the budget is not already met
    //      when it is reached, so the last doc may overshoot — integer
    //      cumulative sums, exact in both engines. ----
    "q77_token_budget_mix" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens - n_tokens < 800
        |ORDER BY source, cum_tokens, doc_id""") { (s, dir) =>
      tokenBudgetMix(Tables.documents(s, dir), budgetPerSource = 800L)
        .orderBy("source", "cum_tokens", "doc_id")
    },

    // ---- vocabulary coverage: corpus word frequencies, top-100 by
    //      frequency with cumulative token coverage — the corpus-stats
    //      pass a tokenizer build (BPE et al.) starts from. Scale shape:
    //      the corpus collapses to its vocabulary via one hash aggregate
    //      (map-side combined), the top-100 comes from a DISTRIBUTED
    //      partial top-k (TakeOrderedAndProject: each partition keeps
    //      100, the driver merges — no global vocab sort), and only the
    //      100 survivors see a window. Integer sums throughout; the one
    //      double division is of exact longs, identical on any engine. ----
    "q80_vocab_coverage" -> QueryDef.sql(
      """WITH w AS (SELECT unnest(list_filter(string_split(trim(text),' '), x -> x != '')) AS word
        |           FROM documents),
        |f AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
        |t AS (SELECT sum(freq) AS total FROM f),
        |r AS (SELECT word, freq,
        |        CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rnk,
        |        CAST(sum(freq) OVER (ORDER BY freq DESC, word ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq
        |      FROM f)
        |SELECT word, freq, rnk, cum_freq,
        |  round(CAST(cum_freq AS DOUBLE) / (SELECT total FROM t), 6) AS cum_frac
        |FROM r WHERE rnk <= 100 ORDER BY rnk""") { (s, dir) =>
      vocabCoverage(Tables.documents(s, dir), topN = 100).orderBy("rnk")
    },

    // ---- per-source quality percentile gate: keep each source's top
    //      quartile by q41's quality score — the stratified quality
    //      filter a curation pipeline applies so one high-volume source
    //      cannot crowd out the rest. percent_rank is (rank-1)/(n-1) on
    //      both engines; ties broken by doc_id so ranks are total. ----
    "q81_quality_percentile_filter" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id, source,
        |  round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |        * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |        * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f),
        |r AS (SELECT doc_id, source, quality,
        |        round(percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id), 6) AS pr
        |      FROM q)
        |SELECT doc_id, source, quality, pr FROM r WHERE pr <= 0.25
        |ORDER BY source, pr, doc_id""") { (s, dir) =>
      qualityPercentileFilter(Tables.documents(s, dir), keepFrac = 0.25)
        .orderBy("source", "pr", "doc_id")
    },

    // ---- sequence packing (concat-and-chunk): concatenate each source's
    //      docs in deterministic hash order and cut the token stream into
    //      fixed-length training sequences; emit every doc's token span
    //      and the sequence ids it lands in. This is the provenance map
    //      from a training sequence BACK to its documents — the lookup a
    //      contamination/attribution audit needs. Integer window math
    //      only (exact on any engine); one shuffle by source. ----
    "q82_sequence_packing" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |      FROM t WHERE n_tokens > 0)
        |SELECT doc_id, source, n_tokens, start_off,
        |  start_off // 512 AS first_seq,
        |  (start_off + n_tokens - 1) // 512 AS last_seq,
        |  (start_off + n_tokens - 1) // 512 - start_off // 512 + 1 AS n_seqs
        |FROM c ORDER BY source, start_off, doc_id""") { (s, dir) =>
      sequencePacking(Tables.documents(s, dir), seqLen = 512L)
        .orderBy("source", "start_off", "doc_id")
    },

    // ---- cross-modal audit: per embedding-cluster label, how good is
    //      the TEXT — doc count, mean q41 quality, mean length. The
    //      text↔vector FK equi-join a curation pipeline runs to find
    //      embedding clusters full of low-quality documents. Per-doc
    //      quality is rounded to 6 places FIRST, then summed as
    //      DECIMAL(18,6) — exact in both engines, so the means hash-match
    //      (the QueryDef determinism contract: never sum raw doubles). ----
    "q83_label_quality_profile" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id, n_chars,
        |  round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |        * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |        * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f),
        |j AS (SELECT e.label, q.quality, q.n_chars
        |      FROM q JOIN embeddings e ON e.vec_id = q.doc_id)
        |SELECT label, count(*) AS n_docs,
        |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
        |FROM j GROUP BY label ORDER BY label""") { (s, dir) =>
      labelQualityProfile(Tables.documents(s, dir), Tables.embeddings(s, dir))
        .orderBy("label")
    },

    // ---- source-overlap matrix: for every ordered source pair (A, B),
    //      the share of A's distinct word 8-grams that also occur in B —
    //      the corpus-composition audit that finds mirrored/scraped
    //      sources BEFORE they skew dedup and mixing decisions. ----
    "q96_source_overlap" -> QueryDef.sql(
      """WITH w AS (SELECT source, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT source,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |tot AS (SELECT source, count(*) AS n_a FROM sh GROUP BY 1),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.source != b.source
        |          GROUP BY 1, 2)
        |SELECT t1.source AS src_a, t2.source AS src_b, t1.n_a,
        |  coalesce(p.n_common, 0) AS n_common,
        |  round(CAST(coalesce(p.n_common, 0) AS DOUBLE) / t1.n_a, 6) AS overlap_frac
        |FROM tot t1 JOIN tot t2 ON t1.source != t2.source
        |LEFT JOIN pairs p ON p.src_a = t1.source AND p.src_b = t2.source
        |ORDER BY src_a, src_b""") { (s, dir) =>
      sourceOverlapMatrix(Tables.documents(s, dir)).orderBy("src_a", "src_b")
    },

    // ---- curation funnel: the end-to-end composition face — exact dedup
    //      → per-source quality gate → benchmark decontamination, with
    //      per-stage surviving doc/token counts (the run report a corpus
    //      build emits). Bench set: the md5-prefix convention (q74). ----
    "q97_curation_funnel" -> QueryDef.sql(
      """WITH tok AS (SELECT doc_id,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens
        |  FROM documents),
        |s1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |f AS (
        |  SELECT d.doc_id, d.source,
        |    length(d.text) AS n_chars,
        |    len(list_filter(string_split(trim(d.text),' '), x -> x != '')) AS n_words,
        |    len(regexp_extract_all(d.text, '[^A-Za-z0-9 ]')) AS n_punct,
        |    len(list_filter(string_split(trim(d.text),' '),
        |        x -> list_contains(['the','a','and','of','to','is','in'], x))) AS n_stop
        |  FROM documents d JOIN s1 USING (doc_id)),
        |q AS (SELECT doc_id, source,
        |  round(least(CAST(n_words AS DOUBLE) / 20.0, 1.0)
        |        * (1.0 - CAST(n_punct AS DOUBLE) / nullif(n_chars, 0))
        |        * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f),
        |r AS (SELECT doc_id,
        |        round(percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id), 6) AS pr
        |      FROM q),
        |s2 AS (SELECT doc_id FROM r WHERE pr <= 0.8),
        |w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |      FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] for i in range(1, len(ws)-6)]) AS sh
        |       FROM w WHERE len(ws) >= 8),
        |bench AS (SELECT doc_id FROM documents WHERE substring(md5(text), 1, 1) = '0'),
        |bsh AS (SELECT DISTINCT s.sh, s.doc_id AS b_doc FROM sh s JOIN bench b USING (doc_id)),
        |sh2 AS (SELECT s.doc_id, s.sh FROM sh s JOIN s2 USING (doc_id)),
        |cnt AS (SELECT doc_id, count(*) AS n_shingles FROM sh2 GROUP BY 1),
        |hits AS (SELECT DISTINCT c.doc_id, c.sh FROM sh2 c JOIN bsh b
        |         ON c.sh = b.sh AND c.doc_id != b.b_doc),
        |shared AS (SELECT doc_id, count(*) AS n_shared FROM hits GROUP BY 1),
        |bad AS (SELECT c.doc_id FROM cnt c JOIN shared s USING (doc_id)
        |        WHERE s.n_shared * 2 >= c.n_shingles),
        |s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |stats AS (
        |  SELECT '0_raw' AS stage, count(*) AS n_docs,
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM tok
        |  UNION ALL SELECT '1_exact_dedup', count(*),
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s1 USING (doc_id)
        |  UNION ALL SELECT '2_quality_gate', count(*),
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s2 USING (doc_id)
        |  UNION ALL SELECT '3_decontaminated', count(*),
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s3 USING (doc_id))
        |SELECT stage, n_docs, n_tokens FROM stats ORDER BY stage""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      curationFunnel(docs,
        docs.filter(substring(md5(col("text")), 1, 1) === "0")
          .select(col("doc_id").as("bench_id")))
        .orderBy("stage")
    },

    // ---- END-TO-END curation pipeline (q223, r13 VERDICT #5): ONE
    //      declared plan composing the components a corpus build
    //      actually chains — near-dup at-ingest gate (the q52 md5
    //      MinHash LSH family: drop any doc that collides at est ≥ 0.5
    //      with a lower-id doc, exactly what the streaming signature
    //      store suppresses as docs arrive in id order), quality
    //      classifier gate (q217's persisted-weights scoring, keep
    //      score ≥ 0.5), per-source token-budget mix (q77's rule), and
    //      the physical shard write (q207 — stage 4 counts come from
    //      the WRITTEN FILES read back, putting the write path itself
    //      under the oracle). Per-stage doc/token counts, the q97
    //      funnel report shape; the streaming twin in StreamingSpec
    //      rebuilds stages 1–2 incrementally from the signature store
    //      and must land the identical report. ----
    "q223_curation_pipeline" -> QueryDef.sql(q223Sql) { (s, dir) =>
      // documentsSpread: stage 1 runs the q52 md5 signature fold over the
      // corpus — fused into the single-split scan it was one 2.6 s task
      val docs = Tables.documentsSpread(s, dir)
      curationPipeline(docs,
        Similarity.persistArtifact("q223", "weights",
          Classifier.ensureWeights(s, dir)))
        .orderBy("stage")
    },

    // ---- fractional-epoch upsampling (q107's other half): q107 caps
    //      rates at 1.0 and DOWN-samples; the data-mix step real training
    //      runs (GPT-3 Table 2.2, LLaMA Table 1) also UP-samples small
    //      high-value sources past one epoch. Per-source token mass m_s,
    //      target share p_s ∝ m_s^α (α=0.5), epochs e_s = m_total·p_s/m_s;
    //      each doc emits floor(e_s) full copies plus one more when the
    //      q104 hash coin lands under the fractional part. ----
    "q113_epoch_mix" -> QueryDef.sql(
      """WITH f AS (SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_words
        |  FROM documents),
        |m AS (SELECT source, CAST(sum(n_words) AS BIGINT) AS m_source FROM f GROUP BY 1),
        |sc AS (SELECT source, m_source,
        |    CAST(round(pow(CAST(m_source AS DOUBLE), 0.5), 9) AS DECIMAL(18,9)) AS s FROM m),
        |tot AS (SELECT sum(s) AS s_tot, CAST(sum(m_source) AS BIGINT) AS m_total FROM sc),
        |e AS (SELECT source, m_source,
        |    round(CAST(m_total AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(s_tot AS DOUBLE))
        |          / CAST(m_source AS DOUBLE), 6) AS epochs
        |  FROM sc CROSS JOIN tot),
        |k AS (SELECT f.doc_id, f.source, e.epochs,
        |    CAST(floor(e.epochs) AS BIGINT)
        |      + CASE WHEN CAST((f.doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0
        |              < e.epochs - floor(e.epochs) THEN 1 ELSE 0 END AS n_copies
        |  FROM f JOIN e USING (source))
        |SELECT doc_id, source, epochs, n_copies,
        |  unnest(range(1, n_copies + 1)) AS copy_idx
        |FROM k WHERE n_copies > 0 ORDER BY doc_id, copy_idx""") { (s, dir) =>
      epochMix(Tables.documents(s, dir)).orderBy("doc_id", "copy_idx")
    },

    // ---- PMI collocation mining (Church & Hanks 1990): the phrase/
    //      multi-word-expression statistic a tokenizer-vocab or quality
    //      pipeline computes over the corpus — pointwise mutual
    //      information of adjacent word pairs with a min-count floor.
    //      Counts are exact integers; ln is one IEEE op (q87 discipline). ----
    "q114_pmi_collocations" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |tok AS (SELECT unnest(ws) AS w FROM w),
        |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni),
        |bi AS (SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |c12 AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS pair_count FROM bi GROUP BY 1, 2)
        |SELECT c12.w1, c12.w2, pair_count, u1.c AS c1, u2.c AS c2,
        |  round(ln(CAST(pair_count AS DOUBLE) * n_tokens
        |           / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
        |FROM c12 JOIN uni u1 ON c12.w1 = u1.w JOIN uni u2 ON c12.w2 = u2.w CROSS JOIN t
        |WHERE pair_count >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""") { (s, dir) =>
      pmiCollocations(Tables.documents(s, dir))
    },

    // ---- shard manifest: assign every doc a fixed-token-budget shard
    //      id in training order (the file layout a training run reads —
    //      "shard k holds tokens [k·B, (k+1)·B)"). The global running
    //      sum is computed HIERARCHICALLY (within-bucket window +
    //      bucket-offset table), never as a single-partition global
    //      window; the oracle's global window proves the decomposition
    //      exact. ----
    "q121_shard_manifest" -> QueryDef.sql(
      """WITH s AS (SELECT doc_id, source, md5(text) AS h,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank FROM s),
        |idx AS (SELECT source, row_number() OVER (ORDER BY source) AS src_idx
        |        FROM (SELECT DISTINCT source FROM s)),
        |ns AS (SELECT count(*) AS n_sources FROM idx),
        |k AS (SELECT doc_id, r.source, n_tokens,
        |    CAST((src_rank - 1) * n_sources + src_idx AS BIGINT) AS order_key
        |  FROM r JOIN idx ON r.source = idx.source CROSS JOIN ns),
        |c AS (SELECT doc_id, order_key, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY order_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM k)
        |SELECT doc_id, order_key, n_tokens, cum_before,
        |  cum_before // 512 AS shard_id
        |FROM c ORDER BY order_key""") { (s, dir) =>
      shardManifest(Tables.documents(s, dir)).orderBy("order_key")
    },

    // ---- physical shard write (q121 made material): partitioned
    //      parquet per shard; the audit reads the WRITTEN FILES back
    //      (tokens re-counted from read-back text) and hash-matches the
    //      oracle's purely-arithmetic audit — the write path under the
    //      correctness gate. ----
    "q207_shard_write" -> QueryDef.sql(
      """WITH s AS (SELECT doc_id, source, md5(text) AS h,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank FROM s),
        |idx AS (SELECT source, row_number() OVER (ORDER BY source) AS src_idx
        |        FROM (SELECT DISTINCT source FROM s)),
        |ns AS (SELECT count(*) AS n_sources FROM idx),
        |k AS (SELECT doc_id, r.source, n_tokens,
        |    CAST((src_rank - 1) * n_sources + src_idx AS BIGINT) AS order_key
        |  FROM r JOIN idx ON r.source = idx.source CROSS JOIN ns),
        |c AS (SELECT doc_id, order_key, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY order_key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM k),
        |audit AS (SELECT cum_before // 512 AS shard_id, count(*) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    min(order_key) AS first_key, max(order_key) AS last_key
        |  FROM c GROUP BY 1)
        |SELECT shard_id, n_docs, n_tokens, first_key, last_key
        |FROM audit ORDER BY shard_id""") { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
      writeShards(Tables.documents(s, dir), out)
    },

    // ---- per-source KL divergence from the corpus unigram mix: the
    //      domain-shift/drift statistic (which source's word
    //      distribution diverges, and WHICH word drives it) a corpus
    //      audit pairs with q96's shingle-overlap matrix — q96 finds
    //      verbatim mirrors, this finds topical outliers. ----
    "q122_source_kl_divergence" -> QueryDef.sql(
      """WITH tok AS (SELECT source, unnest(list_filter(string_split(trim(text),' '), x -> x != '')) AS w
        |           FROM documents),
        |cs AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s, count(*) AS v_s FROM cs GROUP BY 1),
        |cq AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM cs GROUP BY 1),
        |nt AS (SELECT CAST(sum(cw) AS BIGINT) AS n FROM cq),
        |contrib AS (SELECT cs.source, cs.w,
        |    CAST(round((CAST(cs.c AS DOUBLE) / n_s)
        |      * ln((CAST(cs.c AS DOUBLE) / n_s) / (CAST(cq.cw AS DOUBLE) / n)), 9)
        |      AS DECIMAL(18,9)) AS ct
        |  FROM cs JOIN ns USING (source) JOIN cq USING (w) CROSS JOIN nt),
        |kl AS (SELECT source, round(CAST(sum(ct) AS DOUBLE), 6) AS kl_to_corpus FROM contrib GROUP BY 1),
        |top AS (SELECT source, w AS top_word, ct,
        |        row_number() OVER (PARTITION BY source ORDER BY ct DESC, w) AS rn FROM contrib)
        |SELECT k.source, n_s AS n_tokens, v_s AS vocab_size, kl_to_corpus,
        |  t.top_word, round(CAST(t.ct AS DOUBLE), 6) AS top_contrib
        |FROM kl k JOIN ns USING (source)
        |JOIN (SELECT source, top_word, ct FROM top WHERE rn = 1) t USING (source)
        |ORDER BY source""") { (s, dir) =>
      sourceKlDivergence(Tables.documents(s, dir)).orderBy("source")
    },

    // ---- interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995;
    //      the smoothing KenLM-backed filters like CCNet actually run,
    //      where q87's add-k is the classroom baseline): discounted ML
    //      estimate backed off to the CONTINUATION probability — how
    //      many distinct histories a word follows, not how often it
    //      occurs ("Francisco" is frequent but predictable). ----
    "q116_kneser_ney_score" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |bi AS (SELECT doc_id, unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |bb AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bb GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f FROM c12 GROUP BY 1),
        |cb AS (SELECT w2, count(*) AS n1b FROM c12 GROUP BY 1),
        |ty AS (SELECT count(*) AS types FROM c12),
        |contrib AS (SELECT bb.doc_id,
        |    CAST(round(-ln(
        |      (c12.c12 - 0.75) / c1.c1
        |      + (0.75 * c1.n1f / c1.c1) * (CAST(cb.n1b AS DOUBLE) / types)
        |    ), 9) AS DECIMAL(18,9)) AS nll
        |  FROM bb JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cb USING (w2) CROSS JOIN ty)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS kn_nll
        |FROM contrib GROUP BY 1 ORDER BY doc_id""") { (s, dir) =>
      knBigramScore(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // ---- deterministic interleaved training order: the seeded-shuffle
    //      step a training loader needs — every doc gets a unique,
    //      RNG-free, resumable order key that round-robins sources
    //      (hash-ranked within source, so the order is a shuffle, not
    //      corpus order). Sorting by the key IS the training order;
    //      keys are strictly monotone in (src_rank, source), exact
    //      round-robin when sources are equal-sized. ----
    "q115_training_order" -> QueryDef.sql(
      """WITH s AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank FROM s),
        |idx AS (SELECT source, row_number() OVER (ORDER BY source) AS src_idx
        |        FROM (SELECT DISTINCT source FROM s)),
        |ns AS (SELECT count(*) AS n_sources FROM idx)
        |SELECT doc_id, r.source, src_rank,
        |  CAST((src_rank - 1) * n_sources + src_idx AS BIGINT) AS order_key
        |FROM r JOIN idx ON r.source = idx.source CROSS JOIN ns
        |ORDER BY order_key""") { (s, dir) =>
      trainingOrder(Tables.documents(s, dir)).orderBy("order_key")
    }
  )

  /** Per-embedding-label text-quality profile: q41's quality score joined
    * to the embeddings table on the shared id space, aggregated by label.
    * One equi-join (both sides pruned to 2–3 columns before the shuffle)
    * plus one bounded group-by — at 100 TB the join shuffles ids and two
    * small numerics, never text or vectors. */
  def labelQualityProfile(docs: DataFrame, embeddings: DataFrame): DataFrame =
    qualityScored(docs).select("doc_id", "n_chars", "quality")
      .join(embeddings.select(col("vec_id").as("doc_id"), col("label")), "doc_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("avg_quality"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))

  /** Concat-and-chunk sequence packing: within each source, docs
    * concatenate in deterministic (content-hash, doc_id) order; the token
    * stream is cut every `seqLen` tokens. Each doc's `start_off` is the
    * exclusive running token sum before it; `first_seq`/`last_seq` are
    * the training-sequence ids its span touches (a doc longer than
    * `seqLen` spans several; docs never re-order, so sequence→doc
    * attribution is a range lookup). Zero-token docs pack nowhere and are
    * excluded. Integer sums and floor-divisions only — exact everywhere.
    * One shuffle by source; the per-source window is the same scale shape
    * (and caveat) as [[tokenBudgetMix]]. */
  def sequencePacking(docs: DataFrame, seqLen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      .filter(col("n_tokens") > 0)
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    // `div` = exact integer division (the double-division `/` would round
    // through FP; offsets are non-negative so div == floor)
    t.withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("long"))
      .withColumn("first_seq", expr(s"start_off div ${seqLen}L"))
      .withColumn("last_seq", expr(s"(start_off + n_tokens - 1) div ${seqLen}L"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("start_off"),
        col("first_seq"), col("last_seq"),
        (col("last_seq") - col("first_seq") + 1).as("n_seqs"))
  }

  /** Corpus word frequencies with top-N cumulative coverage. One hash
    * aggregate over the exploded corpus (partial/final, map-side
    * combined), `orderBy.limit(topN)` for the distributed top-k, then a
    * window over only those topN rows. `total` is an integer aggregate
    * broadcast back in — exact, no driver round-trip in the plan. */
  def vocabCoverage(docs: DataFrame, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = docs.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val total = f.agg(sum(col("freq")).as("total"))
    val top = f.orderBy(col("freq").desc, col("word")).limit(topN)
    val w = Window.orderBy(col("freq").desc, col("word"))
    top
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_freq", sum(col("freq")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .crossJoin(broadcast(total))
      .select(col("word"), col("freq"), col("rnk"), col("cum_freq"),
        round(col("cum_freq").cast("double") / col("total"), 6).as("cum_frac"))
  }

  /** Keep each source's top `keepFrac` quantile by q41's quality score:
    * percent_rank (rank-1)/(n-1) over (quality DESC, doc_id) per source.
    * One shuffle by source. A pathologically hot source funnels through
    * one partition's sort here (exact ranks need a per-source total
    * order); the scale-out variant computes an approx-quantile threshold
    * per source and filters by it — this exact form is the contract the
    * oracle can check. */
  def qualityPercentileFilter(docs: DataFrame, keepFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    qualityScored(docs).select("doc_id", "source", "quality")
      .withColumn("pr", round(percent_rank().over(w), 6))
      .filter(col("pr") <= keepFrac)
  }

  /** The 100 TB form of [[qualityPercentileFilter]]: instead of exact
    * per-source ranks (whose window funnels a hot source through one
    * partition's sort), compute each source's (1 − keepFrac) quality
    * quantile with percentile_approx — a bounded-size sketch merged
    * map-side, one ordinary aggregation — broadcast the per-source
    * thresholds back, and keep docs at-or-above threshold. Keep-set
    * differences vs the exact gate are confined to the quantile's error
    * band around the threshold (CurationSpec gates agreement and the
    * kept fraction); ties AT the threshold all keep, so the approx gate
    * never drops a doc that outscores a kept one. */
  def qualityThresholdFilterApprox(
      docs: DataFrame, keepFrac: Double, accuracy: Int = 10000): DataFrame = {
    val q = qualityScored(docs).select("doc_id", "source", "quality")
    val thresholds = q.groupBy("source")
      .agg(percentile_approx(col("quality"), lit(1.0 - keepFrac), lit(accuracy))
        .as("q_threshold"))
    q.join(broadcast(thresholds), "source")
      .filter(col("quality") >= col("q_threshold"))
  }

  /** q41's quality score as a reusable shuffle-free projection:
    * (doc_id, source, n_chars, quality) — quality rounded to 6 places,
    * the form the decimal-exact aggregations downstream depend on. */
  def qualityScored(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("n_chars"),
      qualityExpr(col("text")).as("quality"))
  }

  /** The q41/q81 quality score as a reusable column expression over the
    * raw text — in-row, codegen'd, shared by [[qualityScored]] and
    * [[sourceProfile]] so the formula exists once. nullif guards:
    * empty/whitespace-only docs (n_chars or n_words = 0) must score NULL
    * in BOTH engines — Spark's non-ANSI divide gives NULL where DuckDB's
    * double divide gives inf/NaN, so the guard goes in the operator AND
    * the q81/q83 oracle SQL (ADVICE r7). */
  private[operators] def qualityExpr(text: Column): Column = {
    val stopArr = array(Seq("the", "a", "and", "of", "to", "is", "in").map(lit): _*)
    val nChars = length(text).cast("long")
    val nWords = size(words(text)).cast("long")
    val nPunct = regexp_count(text, lit("[^A-Za-z0-9 ]")).cast("long")
    val nStop = size(filter(words(text), w => array_contains(stopArr, w))).cast("long")
    round(
      least(nWords.cast("double") / 20.0, lit(1.0))
        * (lit(1.0) - nPunct.cast("double") / nullif(nChars, lit(0L)))
        * (lit(0.5) + lit(0.5) *
            least(nStop.cast("double") / nullif(nWords, lit(0L)) * 5.0, lit(1.0))),
      6)
  }

  /** Quality-weighted importance sampling (q104) — the SOFT quality
    * filter modern web pipelines use instead of a hard threshold: keep
    * each doc with probability p = floor + (1−floor)·quality, and give
    * survivors weight 1/p so any downstream weighted statistic stays
    * unbiased (Horvitz–Thompson). Hard filters (q81) discard the
    * mid-quality mass entirely; this keeps a calibrated sample of it.
    * The "coin flip" is a Knuth multiplicative hash of doc_id
    * ((doc_id · 2654435761) mod 2³² / 2³²) — pure integer arithmetic,
    * identical on any engine, reproducible run to run, RNG-free (the
    * q93 determinism discipline). Degenerate docs (NULL quality) have
    * NULL p and are never kept, matching q81's gate semantics.
    *
    * Scale shape: one pruned corpus scan, everything in-row, zero
    * shuffle except the output sort — the filter pushes to scan speed
    * at any corpus size. */
  def importanceSample(docs: DataFrame, floor: Double = 0.1): DataFrame = {
    val u = ((col("doc_id") * lit(2654435761L)) % lit(4294967296L))
      .cast("double") / lit(4294967296.0)
    docs.select(col("doc_id"), qualityExpr(col("text")).as("quality"),
        u.as("u"))
      .withColumn("p_keep", lit(floor) + lit(1.0 - floor) * col("quality"))
      .filter(col("u") < col("p_keep"))
      // p_keep and weight stay UNROUNDED: 0.1 + 0.9·quality has exactly
      // 7 decimal digits, so round(·, 6) hits half-boundaries where
      // engine double-rounding disagrees (measured: 4 rows at sf0.1);
      // the raw values are single IEEE ops on identical inputs —
      // bit-equal everywhere — so rounding adds risk, not determinism
      .select(col("doc_id"), col("quality"), col("p_keep"),
        (lit(1.0) / col("p_keep")).as("weight"))
  }

  /** Temperature-scaled source mixing (q107) — the multilingual/multi-
    * source rebalancing step (mT5/UNIMAX-style): sample source s at a
    * rate making the mixture follow p_s ∝ n_s^α (α < 1 upweights small
    * sources) under a total budget of `budgetFrac`·N docs. Rates cap at
    * 1.0 — a source too small to meet its target keeps everything (the
    * standard degenerate case; budget under-fills rather than
    * oversampling). Survivors carry weight 1/rate (Horvitz–Thompson,
    * the q104 convention).
    *
    * Engine determinism: n_s^α values round to 9 places and sum as
    * DECIMAL(18,9) — double summation order differs between engines
    * (q84/q87 discipline); every later step is a single IEEE op on
    * identical doubles. The per-doc coin is the q104 multiplicative
    * hash — integer arithmetic, no RNG.
    *
    * Scale shape: one corpus scan for per-source counts (map-side
    * combined), a sources-sized rate table broadcast back, the coin
    * in-row — no corpus shuffle at all beyond the count aggregate. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.5,
      budgetFrac: Double = 0.5): DataFrame = {
    // barrier on the sources-sized stats table: three consumers (tot,
    // rates, and rates again through tot's cross join) would otherwise
    // each re-run the corpus-wide count aggregate — 3 corpus scans for a
    // table of a few dozen rows (released by the caller's barrier scope)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_source"))
      .withColumn("s",
        round(pow(col("n_source").cast("double"), lit(alpha)), 9)
          .cast("decimal(18,9)"))
      .localCheckpoint(eager = false)
    val tot = counts.agg(sum(col("s")).as("s_tot"),
      sum(col("n_source")).as("n_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_source"),
        least(lit(1.0), round(
          floor(col("n_total").cast("double") * lit(budgetFrac))
            * (col("s").cast("double") / col("s_tot").cast("double"))
            / col("n_source").cast("double"), 6)).as("rate"))
    val u = ((col("doc_id") * lit(2654435761L)) % lit(4294967296L))
      .cast("double") / lit(4294967296.0)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .filter(u < col("rate"))
      // weight stays unrounded: 1/rate is one IEEE op on an identical
      // double — bit-equal everywhere (the q104 lesson)
      .select(col("doc_id"), col("source"), col("n_source"), col("rate"),
        (lit(1.0) / col("rate")).as("weight"))
  }

  /** Fractional-epoch upsampling (q113) — the mixing step q107 cannot
    * express: real data mixes (GPT-3 Table 2.2, LLaMA Table 1) run small
    * high-value sources for MORE than one epoch while large crawls run
    * under one. Per-source token mass m_s; target share p_s ∝ m_s^α
    * (α < 1 flattens the mix toward uniform); epochs e_s = B·p_s/m_s
    * where B = budgetFactor·m_total tokens. Each doc emits floor(e_s)
    * full copies, plus one more iff the q104 multiplicative-hash coin
    * lands under frac(e_s) — so realized per-source token counts
    * concentrate tightly around the target with zero RNG state.
    *
    * Engine determinism: m_s^α rounds to 9 places and sums as
    * DECIMAL(18,9) (q107 discipline); e_s rounds to 6 places BEFORE
    * floor/frac, so both engines split the same integer/fraction.
    *
    * Scale shape: one corpus scan for per-source masses (map-side
    * combined), the sources-sized epoch table broadcast back, the
    * copy explosion in-row (`sequence` + `explode` — a narrow op whose
    * fan-out is bounded by ceil(max epochs)). The corpus never
    * shuffles; output size is the training plan's own size. */
  def epochMix(docs: DataFrame, alpha: Double = 0.5,
      budgetFactor: Double = 1.0): DataFrame = {
    val f = docs.select(col("doc_id"), col("source"),
      size(words(col("text"))).cast("long").as("n_words"))
    // barrier on the sources-sized mass table: two consumers (tot and the
    // epoch table through tot's cross join) would otherwise each re-run
    // the corpus-wide sum for a table of a few dozen rows
    val m = f.groupBy("source").agg(sum("n_words").as("m_source"))
      .withColumn("s",
        round(pow(col("m_source").cast("double"), lit(alpha)), 9)
          .cast("decimal(18,9)"))
      .localCheckpoint(eager = false)
    val tot = m.agg(sum(col("s")).as("s_tot"), sum("m_source").as("m_total"))
    val epochs = m.crossJoin(broadcast(tot))
      .select(col("source"),
        round(col("m_total").cast("double") * lit(budgetFactor)
            * (col("s").cast("double") / col("s_tot").cast("double"))
            / col("m_source").cast("double"), 6).as("epochs"))
    val u = ((col("doc_id") * lit(2654435761L)) % lit(4294967296L))
      .cast("double") / lit(4294967296.0)
    f.join(broadcast(epochs), "source")
      .withColumn("n_copies", floor(col("epochs")) +
        when(u < (col("epochs") - floor(col("epochs"))), 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("epochs"), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
  }

  /** PMI collocation mining (q114) — Church & Hanks 1990: adjacent word
    * pairs scored by pointwise mutual information
    * ln(c₁₂·N / (c₁·c₂)), floored at `minCount` co-occurrences (PMI is
    * unstable on rare pairs), top-k by score. The statistic phrase
    * mining and tokenizer-vocab construction compute corpus-wide.
    *
    * All counts are exact integers; the PMI itself is one IEEE ln on
    * identical doubles (q87 discipline), rounded to 6 for the contract.
    *
    * Scale shape: the tokenized base frame is computed once behind a
    * barrier and consumed by both the unigram and the bigram aggregate
    * (without it each re-runs tokenize+explode over the corpus). Both
    * aggregates are map-side combined; the `minCount` floor prunes the
    * pair table BEFORE the two vocab-sized unigram joins; N rides a
    * one-row broadcast; top-k is TakeOrdered, never a global sort. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5,
      topK: Int = 100): DataFrame = {
    val w = docs.select(words(col("text")).as("ws"))
      .localCheckpoint(eager = false)
    val uni = w.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").cast("long").as("n_tokens"))
    val bi = w.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val u1 = uni.select(col("w").as("w1"), col("c").as("c1"))
    val u2 = uni.select(col("w").as("w2"), col("c").as("c2"))
    bi.join(u1, "w1").join(u2, "w2").crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("pair_count"), col("c1"), col("c2"),
        round(log(col("pair_count").cast("double") * col("n_tokens")
          / (col("c1").cast("double") * col("c2").cast("double"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Deterministic interleaved training order (q115) — the seeded-
    * shuffle step a training loader runs over the final mix: every doc
    * gets a unique, RNG-free, resumable order key such that sorting by
    * it round-robins the sources in content-hash order (a shuffle, not
    * corpus order — adjacent docs in the same source land far apart).
    * key = (src_rank − 1)·S + src_idx: strictly monotone in
    * (src_rank, source), collision-free, and exactly contiguous
    * 1..N when sources are equal-sized (gaps appear only past a
    * smaller source's exhaustion — resumability keys on the ORDER, not
    * on dense numbering).
    *
    * Scale shape: one corpus scan; the only corpus-sized movement is
    * the per-source rank window (one hash shuffle by source — the same
    * exchange any per-source op pays). The deliberate alternative to a
    * global `row_number() OVER (ORDER BY …)`, which collapses the
    * corpus onto a single partition; the source-index map is
    * sources-sized and broadcast (its single-partition window is over
    * dozens of rows, not the corpus). */
  def trainingOrder(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("src_rank",
        row_number().over(
          Window.partitionBy("source").orderBy(col("h"), col("doc_id"))).cast("long"))
    // n_sources folds into the same sources-sized window pass — a
    // separate count aggregate would re-run the distinct's corpus scan
    // for one number
    val idx = docs.select("source").distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy("source")).cast("long"))
      .withColumn("n_sources",
        count(lit(1)).over(Window.partitionBy(lit(1))).cast("long"))
    ranked.join(broadcast(idx), "source")
      .select(col("doc_id"), col("source"), col("src_rank"),
        ((col("src_rank") - 1) * col("n_sources") + col("src_idx"))
          .as("order_key"))
  }

  /** T5-style span corruption (q112) — the denoising-objective prep
    * (Raffel et al. 2020 §3.1.4): mask ~15% of tokens as fixed 3-token
    * spans, emitting the sentinel-masked input and the sentinel-
    * delimited target a seq2seq denoiser trains on. Span placement is
    * RNG-free: one span per 20-token segment, offset within the segment
    * from the q104 multiplicative hash of (doc_id, span index) — pure
    * integer arithmetic, identical on any engine/run/partitioning, and
    * segments make overlap impossible by construction. Docs under 20
    * tokens pass through unmasked (no spans, empty target).
    *
    * Scale shape: one pruned corpus scan, everything in-row (token
    * array ops + two string folds), zero shuffle beyond the output
    * sort — corruption runs at scan speed at any corpus size. */
  def spanCorruption(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("k", expr("n div 20"))
      .withColumn("sp", expr(
        """CASE WHEN k > 0 THEN transform(sequence(1L, k),
          |  i -> (i - 1) * (n div k) + 1
          |    + pmod((doc_id * 2654435761 + i * 40503) % 4294967296, (n div k) - 2))
          |ELSE array() END""".stripMargin))
      .select(col("doc_id"),
        col("n").as("n_tokens"), col("k").as("n_spans"),
        (lit(3L) * col("k")).as("n_masked"),
        round(lit(3.0) * col("k") / nullif(col("n"), lit(0L)), 6).as("mask_frac"),
        expr(
          """CASE WHEN n = 0 THEN '' ELSE
            |concat_ws(' ', filter(transform(sequence(1L, n),
            |  p -> CASE WHEN exists(sp, x -> p >= x AND p <= x + 2)
            |    THEN CASE WHEN array_position(sp, p) > 0
            |      THEN concat('<extra_id_', CAST(array_position(sp, p) AS STRING), '>')
            |      ELSE NULL END
            |    ELSE element_at(ws, CAST(p AS INT)) END),
            |  x -> x IS NOT NULL)) END""".stripMargin).as("input_text"),
        expr(
          """CASE WHEN k = 0 THEN '' ELSE
            |concat_ws(' ', flatten(transform(sequence(1, CAST(k AS INT)),
            |  i -> concat(
            |    array(concat('<extra_id_', CAST(i AS STRING), '>')),
            |    slice(ws, CAST(element_at(sp, i) AS INT), 3))))) END""".stripMargin)
          .as("target_text"))

  /** Greedy per-source token-budget fill in deterministic hash order:
    * running token sum per source, keep a doc iff the running total
    * BEFORE it is under budget (the crossing doc is taken; nothing
    * after). Window sum over integers — exact on any engine, one
    * shuffle by source. */
  def tokenBudgetMix(docs: DataFrame, budgetPerSource: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budgetPerSource)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
  }

  /** Per-document repetition statistics, all in-row (shuffle-free):
    * duplicate-word fraction plus the count/coverage of the most
    * frequent word 2-gram and 3-gram. The "most frequent gram" count is
    * the longest equal-run of the SORTED gram array — computed with a
    * single aggregate() pass over each row's array, so a 100 TB corpus
    * never shuffles; cost is O(words log words) per row. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    // most-frequent-gram counts via the native one-pass expression — the
    // declarative gram-array + sort + struct-fold form cost ~4× per row
    // (graft.functions.TopNgramCount)
    graft.functions.TextExpressions.register(docs.sparkSession)
    val withGrams = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct_words"),
        expr("graft_top_ngram_count(ws, 2)").as("top2_cnt"),
        expr("graft_top_ngram_count(ws, 3)").as("top3_cnt"))
    withGrams.select(col("doc_id"), col("n_words"), col("n_distinct_words"),
      when(col("n_words") > 0,
        round(lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"), 6))
        .otherwise(0.0).as("dup_word_frac"),
      col("top2_cnt"),
      when(col("n_words") >= 2,
        round(col("top2_cnt").cast("double") / (col("n_words") - 1), 6))
        .otherwise(0.0).as("top2_frac"),
      col("top3_cnt"),
      when(col("n_words") >= 3,
        round(col("top3_cnt").cast("double") / (col("n_words") - 2), 6))
        .otherwise(0.0).as("top3_frac"))
  }

  /** Drop shingles appearing in more than this many corpus docs before
    * the bench join — same skew guard as Dedup.maxShingleDocFreq (a
    * boilerplate 8-gram shared by millions of docs would go quadratic
    * against a bench doc containing it; dropping ubiquitous n-grams is
    * also standard decontamination practice). No-op at testdata scale,
    * so the oracle — which has no cap — stays exact. */
  private val maxShingleDocFreq = 1000000

  /** Benchmark decontamination: for every corpus doc, the number and
    * fraction of its distinct word 8-grams that also occur in some
    * OTHER doc of the benchmark set, plus a contaminated flag at >= 50%
    * overlap (integer comparison, no float threshold).
    *
    * Scale shape: corpus shingles are exploded ONCE behind a lazy
    * localCheckpoint barrier (the per-doc count and the bench-hits join
    * both read the persisted rows — see decontaminationScanAgainst); the
    * benchmark side is broadcast — eval benchmarks are tiny relative to
    * a 100 TB corpus, which is precisely why this runs as a map-side
    * join over the corpus scan rather than a shuffle. */
  def decontaminationScan(docs: DataFrame, benchIds: DataFrame, n: Int = 8): DataFrame =
    decontaminationScanHashed(docs, benchShingleHashSet(docs, benchIds, n), n)

  /** Hashed-identity n-gram stream: (doc_id, sh LONG), sh = xxhash64
    * chained over the window's words — the n-gram STRING is never built
    * (guide §2.3/§1.2; the r17 q51 change applied to the n-gram family).
    * The 8-way concat_ws per position dominated q74's corpus stage
    * (15.6 s of task CPU at sf0.1, JobProfile r17). Identity-only
    * consumers ONLY: results may carry doc ids and counts, never the
    * shingle itself, and both join sides must hash the same way. The
    * Bloom face (q123) keeps the STRING set — its bits are defined over
    * md5/xxhash64 of the joined string and must not move.
    *
    * Collision exposure: a scan of n_c distinct corpus shingles against
    * n_b distinct bench shingles expects n_c·n_b/2⁶⁴ false hits. At the
    * 100 TB design point — about 1.7·10¹³ corpus 8-grams at ~6 bytes a
    * word — against a 10⁷-shingle eval set that is about 9 false hits
    * over the whole corpus. Each adds 1 to one doc's `n_shared`: it can
    * tip a doc that sits just under q74's ≥ 50% flag over it. */
  private[operators] def shingleHashesN(docs: DataFrame, n: Int): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> xxhash64($parts))"))).as("sh"))
  }

  /** [[benchShingleSet]] in hashed-identity form: (b_sh LONG, b_doc) —
    * the twin [[decontaminationScanHashed]] joins against. */
  private[operators] def benchShingleHashSet(docs: DataFrame, benchIds: DataFrame,
      n: Int = 8): DataFrame =
    shingleHashesN(docs.join(broadcast(benchIds),
        col("doc_id") === col("bench_id"), "left_semi"), n)
      .select(col("sh").as("b_sh"), col("doc_id").as("b_doc"))
      .distinct()

  /** The benchmark side of the scan as a standalone relation:
    * (b_sh, b_doc) — the distinct n-gram shingles of the benchmark docs.
    * In a scheduled pipeline the eval suite changes rarely while the
    * corpus moves daily: build this ONCE per benchmark release, persist
    * it as parquet, and feed it to [[decontaminationScanAgainst]] on
    * every run — the per-run job then touches only the corpus. */
  def benchShingleSet(docs: DataFrame, benchIds: DataFrame, n: Int = 8): DataFrame =
    // semi-filter to the bench docs BEFORE shingling: the old form
    // shingled the whole corpus and then kept the bench rows — a full
    // corpus explode to extract a tiny eval set (and one of q74's three
    // corpus-shingle subtrees). Inner-join-after vs semi-join-before are
    // row-identical; only the work moves.
    shinglesN(docs.join(broadcast(benchIds),
        col("doc_id") === col("bench_id"), "left_semi"), n)
      .select(col("sh").as("b_sh"), col("doc_id").as("b_doc"))
      .distinct()

  /** Corpus scan against a prebuilt (possibly persisted) benchmark
    * shingle set. The bench relation is broadcast — eval benchmarks are
    * tiny relative to a 100 TB corpus, which is precisely why this runs
    * as a map-side join over the corpus scan rather than a shuffle. The
    * corpus-side frequency cap makes hit semantics identical whether the
    * bench set was built capped or not: a capped-out shingle is absent
    * from the corpus side, so it can never join. */
  def decontaminationScanAgainst(
      docs: DataFrame, benchShingles: DataFrame, n: Int = 8): DataFrame =
    decontaminationBody(shinglesN(docs, n), benchShingles)

  /** [[decontaminationScanAgainst]] over the hashed-identity shingle
    * stream (see [[shingleHashesN]]) — identical output (doc ids,
    * counts, flags; the shingle never surfaces), the corpus stage just
    * stops building n-gram strings. The bench side must come from
    * [[benchShingleHashSet]] so both sides share one hash identity. */
  private[operators] def decontaminationScanHashed(
      docs: DataFrame, benchShingleHashes: DataFrame, n: Int = 8): DataFrame =
    decontaminationBody(shingleHashesN(docs, n), benchShingleHashes)

  private def decontaminationBody(sh0: DataFrame, benchShingles: DataFrame): DataFrame = {
    val freqOk = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq).select("sh")
    // one barrier, two consumers (per-doc counts + the bench hits join):
    // without it the corpus explode+freq-cap subtree ran per consumer —
    // q74's r8 plan had six document scans (the q51 failure mode; the
    // old repartition-for-reuse never survived AQE broadcast conversion)
    val sh = sh0.join(freqOk, "sh").localCheckpoint(eager = false)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = sh.join(broadcast(benchShingles),
        col("sh") === col("b_sh") && col("doc_id") =!= col("b_doc"))
      .select(col("doc_id"), col("sh")).distinct()
    val shared = hits.groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    cnt.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_shingles"), 6)
          .as("contamination"),
        (coalesce(col("n_shared"), lit(0L)) * 2 >= col("n_shingles")).as("contaminated"))
  }

  /** Fuzzy benchmark decontamination (q101): q74 flags docs by the share
    * of their OWN shingles found anywhere in the benchmark set; this is
    * the per-benchmark-doc Jaccard form — for every corpus doc, the best
    * (highest-Jaccard) single benchmark doc over distinct word n-gram
    * shingle sets, flagged at `threshold`. The distinction matters in
    * practice: a long corpus doc that embeds one short benchmark item
    * verbatim has LOW q74 overlap share but its q101 Jaccard against
    * that one item can still clear a pair-similarity gate, and the
    * attribution (`best_bench`) names WHICH eval item leaked — the
    * audit-trail question q74 cannot answer.
    *
    * Output: (doc_id, n_shingles, best_bench, best_jaccard,
    * contaminated_near) for every doc with ≥ n tokens; docs with no
    * shared shingle keep best_bench null / jaccard 0. Ties on Jaccard
    * resolve to the smallest bench doc_id; the flag compares the
    * unrounded Jaccard (an exact integer-ratio double in both engines).
    *
    * Scale shape: the corpus shingle frame is exploded once behind the
    * same lazy barrier as q74 (two consumers: per-doc counts + the bench
    * join); the bench side — shingles AND per-bench-doc set sizes — is
    * broadcast (eval suites are tiny against a 100 TB corpus), so the
    * only corpus-sized shuffles carry (doc_id, b_doc, count) triples
    * bounded by the candidate-pair count, never shingle text. The
    * all-pairs Jaccard this replaces is exactly the q51→q74 asymmetry:
    * one side is small, so the inverted index degenerates to a map-side
    * join. */
  def fuzzyDecontaminationScan(docs: DataFrame, benchIds: DataFrame,
      n: Int = 8, threshold: Double = 0.5): DataFrame =
    // the bench shingle set has TWO consumers here (the broadcast join
    // and the per-bench-doc set sizes); without a barrier each re-runs
    // the semi-join's full corpus scan — the q51 failure mode, on the
    // side of the plan that exists to be cheap.
    // hashed-identity form (r17, the q74 change): every consumer is
    // identity-only (intersection/union COUNTS; the shingle never
    // surfaces), so neither side builds the n-gram string
    fuzzyDecontaminationBody(shingleHashesN(docs, n),
      benchShingleHashSet(docs, benchIds, n).localCheckpoint(eager = false),
      threshold)

  /** [[fuzzyDecontaminationScan]] against a prebuilt (possibly persisted)
    * benchmark shingle relation (b_sh, b_doc) — the per-benchmark-release
    * precompute entry point, mirroring [[decontaminationScanAgainst]]. */
  def fuzzyDecontaminationScanAgainst(docs: DataFrame, benchShingles: DataFrame,
      n: Int = 8, threshold: Double = 0.5): DataFrame =
    fuzzyDecontaminationBody(shinglesN(docs, n), benchShingles, threshold)

  /** The scan body over either shingle stream (string or hashed — both
    * sides must share one identity; see [[shingleHashesN]]). */
  private def fuzzyDecontaminationBody(sh0: DataFrame,
      benchShingles: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqOk = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq).select("sh")
    val sh = sh0.join(freqOk, "sh").localCheckpoint(eager = false)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // bench-side set sizes: bench-doc-count rows — broadcast like the
    // shingles themselves
    val nb = benchShingles.groupBy("b_doc").agg(count(lit(1)).as("n_bench"))
    val inter = sh.join(broadcast(benchShingles),
        col("sh") === col("b_sh") && col("doc_id") =!= col("b_doc"))
      .groupBy("doc_id", "b_doc").agg(count(lit(1)).as("n_inter"))
    val jac = inter.join(cnt, "doc_id").join(broadcast(nb), "b_doc")
      .withColumn("jac", col("n_inter").cast("double") /
        (col("n_shingles") + col("n_bench") - col("n_inter")))
    val w = Window.partitionBy("doc_id").orderBy(col("jac").desc, col("b_doc"))
    val best = jac.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("b_doc").as("best_bench"), col("jac"))
    cnt.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"), col("best_bench"),
        round(coalesce(col("jac"), lit(0.0)), 6).as("best_jaccard"),
        (coalesce(col("jac"), lit(0.0)) >= threshold).as("contaminated_near"))
  }

  /** Per-doc mean negative log probability under a corpus-self-trained
    * add-k bigram LM (q87): P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) with
    * history counts c(w1) taken over the bigram table and V = distinct
    * successor vocabulary. Output: (doc_id, n_bigrams, lm_nll); docs
    * with fewer than 2 tokens have no bigrams and are absent.
    *
    * Scale shape: the exploded bigram frame sits behind a lazy
    * localCheckpoint — THREE consumers (the two count aggregations and
    * the scoring join) otherwise re-run the tokenize+explode subtree
    * (the q51 failure mode). The count tables are vocabulary-sized, the
    * scoring join shuffles the bigram frame once by (w1, w2), and the
    * vocab total is a one-row broadcast. Per-bigram −ln p rounds to
    * DECIMAL(18,9) before the per-doc sum, so the mean is exact integer
    * arithmetic — independent of partitioning and add order. */
  def lmBigramScore(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val bi = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(eager = false)
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = bi.agg(countDistinct(col("w2")).as("v"))
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(-log((col("c12") + lit(k)) / (col("c1") + lit(k) * col("v"))), 9)
          .cast("decimal(18,9)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("lm_nll"))
  }

  /** Per-source KL divergence from the corpus unigram mix (q122) —
    * KL(p_s ‖ q) = Σ_w p_s(w)·ln(p_s(w)/q(w)) with p_s the source's and
    * q the whole corpus's word distribution, plus the argmax word (the
    * drift attribution: WHICH word makes the source an outlier). Every
    * source word exists in the corpus, so q(w) > 0 and the sum is
    * finite by construction; per-term contributions round to 9 places
    * and sum as DECIMAL (q87 discipline — summation order), so both the
    * divergence and the argmax are engine- and partitioning-exact.
    *
    * The audit pairing: q96's shingle-overlap matrix finds verbatim
    * mirrors between sources; this finds TOPICAL outliers no verbatim
    * overlap would reveal.
    *
    * Scale shape: one corpus scan into the (source, word) counts, which
    * sit behind a barrier with three consumers (per-source totals, the
    * corpus marginal, the scoring join); everything downstream is
    * sources×vocab-bounded; the corpus total rides a one-row broadcast;
    * the per-source argmax window runs on the vocab-sized contribution
    * frame (second barrier — the KL sum and the argmax both read it),
    * never the corpus. */
  def sourceKlDivergence(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cs = docs.select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val ns = cs.groupBy("source")
      .agg(sum("c").cast("long").as("n_s"), count(lit(1)).as("v_s"))
    val cq = cs.groupBy("w").agg(sum("c").cast("long").as("cw"))
    val nt = cq.agg(sum("cw").cast("long").as("n"))
    val p = col("c").cast("double") / col("n_s")
    val q = col("cw").cast("double") / col("n")
    val contrib = cs.join(ns, "source").join(cq, "w")
      .crossJoin(broadcast(nt))
      .select(col("source"), col("w"),
        round((p * log(p / q)), 9).cast("decimal(18,9)").as("ct"))
      .localCheckpoint(eager = false)
    val kl = contrib.groupBy("source")
      .agg(round(sum(col("ct")).cast("double"), 6).as("kl_to_corpus"))
    val top = contrib.withColumn("rn",
        row_number().over(
          Window.partitionBy("source").orderBy(col("ct").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("w").as("top_word"),
        round(col("ct").cast("double"), 6).as("top_contrib"))
    kl.join(ns.select("source", "n_s", "v_s"), "source")
      .join(top, "source")
      .select(col("source"), col("n_s").as("n_tokens"),
        col("v_s").as("vocab_size"), col("kl_to_corpus"),
        col("top_word"), col("top_contrib"))
  }

  /** Shard manifest (q121) — every doc assigned a shard id such that
    * shard k holds the training-order token interval [k·B, (k+1)·B):
    * the file layout a training job reads sequentially, derived from
    * [[trainingOrder]]'s keys plus an EXACT global exclusive prefix sum
    * of token counts.
    *
    * The prefix sum is the interesting scale problem: the naive form is
    * `sum() OVER (ORDER BY order_key)` — a window with no partition,
    * which collapses the corpus onto ONE partition (the q115 global-
    * row_number trap, now for sums). This computes it HIERARCHICALLY
    * instead (the classic two-level scan decomposition): an exclusive
    * running sum WITHIN each fixed-size order-key bucket (a partitioned
    * window — one hash shuffle), plus an exclusive bucket-offset table
    * (corpus/bucketSize rows — ITS single-partition window is over the
    * small table, and a third level would bound even that). The
    * oracle's global window proves the decomposition exact; integer
    * sums, so no rounding discipline is needed.
    *
    * Scale shape: one corpus scan into the rank window (the q115
    * exchange) behind a barrier with two consumers (the within-bucket
    * window and the bucket totals — without it the rank window re-runs
    * per consumer); bucket offsets broadcast back. */
  def shardManifest(docs: DataFrame, shardTokens: Long = 512,
      bucketSize: Long = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col("doc_id"), col("source"), md5(col("text")).as("h"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    val ranked = base.withColumn("src_rank",
      row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))).cast("long"))
    val idx = docs.select("source").distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy("source")).cast("long"))
      .withColumn("n_sources",
        count(lit(1)).over(Window.partitionBy(lit(1))).cast("long"))
    val keyed = ranked.join(broadcast(idx), "source")
      .select(col("doc_id"), col("n_tokens"),
        ((col("src_rank") - 1) * col("n_sources") + col("src_idx"))
          .as("order_key"))
      .withColumn("bucket", expr(s"(order_key - 1) div $bucketSize"))
      .localCheckpoint(eager = false)
    val within = keyed.withColumn("cum_in_bucket",
      coalesce(sum("n_tokens").over(
        Window.partitionBy("bucket").orderBy("order_key")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = keyed.groupBy("bucket").agg(sum("n_tokens").as("bt"))
      .withColumn("bucket_offset",
        coalesce(sum("bt").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("bucket", "bucket_offset")
    within.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("order_key"), col("n_tokens"),
        (col("bucket_offset") + col("cum_in_bucket")).as("cum_before"))
      .withColumn("shard_id", expr(s"cum_before div $shardTokens"))
  }

  /** Materialize the q121 manifest as PHYSICAL training shards (q207) —
    * the pipeline's last step: each shard lands as its own
    * `shard_id=N/` parquet partition carrying (order_key, doc_id,
    * source, text), so a trainer streams shard directories in order and
    * resumes at a shard boundary. The returned audit is computed FROM
    * THE WRITTEN FILES — doc counts, token sums (re-tokenized from the
    * read-back text, proving the payload round-tripped byte-true), and
    * the order-key range per shard — and hash-matches the same audit
    * derived purely arithmetically by the DuckDB oracle, so the write
    * path itself sits under the correctness gate. Scale shape: one
    * manifest join + a partitioned write (shards are size-bounded by
    * construction: every shard holds ≤ shardTokens + one overhanging
    * doc); the audit is one pass over the written files. */
  def writeShards(docs: DataFrame, outDir: String, shardTokens: Long = 512,
      bucketSize: Long = 1024): DataFrame = {
    val spark = docs.sparkSession
    // cluster by shard BEFORE the partitioned write (guide §6): without
    // it the write runs in the join output's partitioning — on a
    // single-split corpus ONE task opened all ~529 shard writers serially
    // (measured 7.9 s of q207's 10.7 s wall), and at scale every task
    // writes a file into every shard directory (the many-small-files
    // anti-pattern). Hashing by shard_id sends each shard to exactly one
    // writer: same files, parallel writers, one file per shard either way.
    docs.join(shardManifest(docs, shardTokens, bucketSize), "doc_id")
      .select(col("shard_id"), col("order_key"), col("doc_id"),
        col("source"), col("text"))
      .repartition(graft.Tables.computeParallelism(spark), col("shard_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id").parquet(outDir)
    spark.read.parquet(outDir)
      .select(col("shard_id").cast("long").as("shard_id"), col("order_key"),
        col("doc_id"), size(words(col("text"))).cast("long").as("nt"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        min(col("order_key")).as("first_key"), max(col("order_key")).as("last_key"))
      .orderBy("shard_id")
  }

  /** Interpolated Kneser-Ney bigram scoring (q116) — the smoothing the
    * production LM filters (KenLM, hence CCNet) actually use, where
    * [[lmBigramScore]]'s add-k is the baseline:
    *
    *   P(w2|w1) = (c12 − d)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/types
    *
    * The backoff mass goes to the CONTINUATION count N1+(·w2) — how many
    * distinct histories w2 follows — not raw frequency: a word that is
    * frequent only inside one fixed phrase gets a low continuation
    * probability, which is the distinction add-k cannot make. Scoring
    * the training corpus itself keeps every c12 ≥ 1, so the discounted
    * term is ≥ (1−d)/c1 > 0 and no max(·,0)/OOV clamp is needed (the
    * reference-slice variant in [[perplexityBuckets]] shows the
    * unseen-history handling).
    *
    * Engine determinism: all five statistics are exact integers derived
    * from ONE c12 table; the probability is a short chain of IEEE ops in
    * the same order both engines evaluate; per-bigram NLL rounds to 9
    * places and sums as DECIMAL(18,9) (q87 discipline).
    *
    * Scale shape: q87's exactly — the exploded bigram frame behind one
    * barrier (two consumers), c1/n1f/n1b/types all derived from the
    * vocab²-bounded c12 table behind a second barrier (four consumers —
    * without it each statistic re-runs the corpus-wide pair count), one
    * (w1,w2) shuffle to score, map-side-combined per-doc mean. */
  def knBigramScore(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val bb = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(eager = false)
    val c12 = bb.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val c1 = c12.groupBy("w1")
      .agg(sum("c12").cast("long").as("c1"), count(lit(1)).as("n1f"))
    val cb = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = c12.agg(count(lit(1)).as("types"))
    bb.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(cb, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("doc_id"),
        round(-log(
          (col("c12") - lit(discount)) / col("c1")
            + (lit(discount) * col("n1f") / col("c1"))
              * (col("n1b").cast("double") / col("types"))), 9)
          .cast("decimal(18,9)").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("kn_nll"))
  }

  /** CCNet-style perplexity bucketing (q105): [[lmBigramScore]]'s model
    * trained on a reference slice only (`substring(md5(text),1,1) <= '3'`,
    * the deterministic ≈25% stand-in for a curated reference corpus),
    * then EVERY doc scored against it. Bigrams with histories/pairs the
    * reference never saw take `c12 = c1 = 0` — the add-k fallback
    * `k/(k·V) = 1/V`, the uniform mass CCNet's KenLM gives OOV — via
    * LEFT joins + coalesce. Per source, docs split head/middle/tail by
    * ascending NLL: bucket boundaries are `(rank-1)·3 < n` / `< 2n` on
    * the exact integer (row_number, count) pair, so tertiles are
    * reproducible on any engine with no float threshold.
    *
    * Scale shape: identical to q87 (one barrier over the exploded bigram
    * frame — FOUR consumers here; vocab-sized count tables from the
    * reference slice; one (w1,w2) shuffle for scoring) plus one narrow
    * shuffle of (doc_id, source, lm_nll) for the per-source window —
    * per-key window state is two integers. Docs under 2 tokens have no
    * bigrams and are absent, as in q87. */
  def perplexityBuckets(docs: DataFrame, k: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bi = docs.select(col("doc_id"), col("source"),
        (substring(md5(col("text")), 1, 1) <= "3").as("is_ref"),
        words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("source"), col("is_ref"), explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("source"), col("is_ref"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(eager = false)
    val ref = bi.filter(col("is_ref"))
    val c12 = ref.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = ref.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = ref.agg(countDistinct(col("w2")).as("v"))
    val scored = bi.join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("source"),
        round(-log((coalesce(col("c12"), lit(0L)) + lit(k))
            / (coalesce(col("c1"), lit(0L)) + lit(k) * col("v"))), 9)
          .cast("decimal(18,9)").as("nll"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("lm_nll"))
    val w = Window.partitionBy("source").orderBy(col("lm_nll"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("doc_id"), col("source"), col("n_bigrams"), col("lm_nll"),
        when((col("rn") - 1) * 3 < col("n"), "head")
          .when((col("rn") - 1) * 3 < col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Verbatim n-token spans repeated across >= minDocs distinct docs,
    * top-k by total occurrence count (q90) — boilerplate detection.
    * Every window occurrence is kept (NOT array_distinct'd like the
    * Jaccard shingles): a span repeated inside one doc AND across docs
    * ranks by its true frequency. One shuffle of the exploded windows;
    * the n_docs >= minDocs filter rides the aggregate, and top-k is a
    * distributed TakeOrderedAndProject. At 100 TB, group on
    * xxhash64(span) instead of the span text to shrink the shuffle ~5×
    * (collisions merely merge unrelated spans into one reported row —
    * acceptable for boilerplate triage, not for this exact oracle). */
  def repeatedSpans(docs: DataFrame, n: Int, minDocs: Int, topK: Int): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))")).as("span"))
      .groupBy("span")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(topK)
  }

  /** The 100 TB face of [[repeatedSpans]] (q92): aggregate in HASH space
    * — the big shuffle carries 8-byte xxhash64 keys instead of n-token
    * span text (~5× less shuffle at n=8), and span text is recovered
    * only for the winners. Same output contract as the exact form; a
    * hash collision would merge two unrelated spans into one reported
    * row (odds ~ m²/2⁶⁴ for m distinct spans — negligible below
    * trillions of spans, and CurationSpec pins hashed == exact on real
    * data).
    *
    * Shape: (1) count occurrences and distinct docs per span HASH —
    * the only corpus-sized shuffle, fixed-width keys, map-side
    * combinable; (2) the k-th highest count becomes a one-row broadcast
    * threshold, and every hash at or above it survives (k + boundary
    * ties rows, so span-order ties at the k boundary resolve exactly as
    * the text form after recovery); (3) a second documents scan joins
    * the broadcast winner set to recover exemplar text for only those
    * k+ hashes — two scans of the raw corpus (the q74 pattern) beat
    * materializing or re-shuffling the window explosion. */
  def repeatedSpansHashed(docs: DataFrame, n: Int, minDocs: Int, topK: Int): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    def spanFrame = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))")).as("span"))
    val counts = spanFrame
      .select(col("doc_id"), xxhash64(col("span")).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .localCheckpoint(eager = false) // two consumers: threshold + winners
    val thr = counts.orderBy(col("n_occurrences").desc).limit(topK)
      .agg(min(col("n_occurrences")).as("thr"))
    val winners = counts.crossJoin(broadcast(thr))
      .filter(col("n_occurrences") >= col("thr"))
      .select("h", "n_occurrences", "n_docs")
    spanFrame.select(xxhash64(col("span")).as("h"), col("span"))
      .join(broadcast(winners), Seq("h"))
      .groupBy("h", "n_occurrences", "n_docs")
      .agg(min(col("span")).as("span"))
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(topK)
      .select("span", "n_occurrences", "n_docs")
  }

  /** APPLY step for boilerplate detection (q95): strip the corpus's top
    * repeated spans ([[repeatedSpans]]) from every document — the
    * detect→apply pair for spans, as q91 is for duplicate clusters. The
    * winning spans collapse to ONE sorted array row that broadcasts to
    * every document; each doc then folds `replace(acc, span, ' ')` over
    * the array IN-ROW — zero shuffle on the corpus side, and the sorted
    * fold order makes nested-replacement outcomes engine-independent.
    * Returns per-doc before/after char counts + a changed flag (the
    * audit record a strip job emits; the cleaned text itself is the same
    * expression minus the length()). */
  def boilerplateStrip(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
      topK: Int = 20): DataFrame = {
    val spansOneRow = repeatedSpans(docs, n, minDocs, topK)
      .agg(sort_array(collect_list(col("span"))).as("spans"))
    docs.crossJoin(broadcast(spansOneRow))
      .withColumn("st", expr("aggregate(spans, text, (acc, s) -> replace(acc, s, ' '))"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(col("st")).cast("long").as("n_chars_stripped"),
        (length(col("st")) =!= length(col("text"))).as("changed"))
  }

  /** Per-document n-gram novelty (q94): the share of a doc's DISTINCT
    * word n-grams that appear in no other document — 1.0 = fully novel
    * text, near 0.0 = everything it says is said elsewhere (template
    * pages, mirrors, aggregator chrome). The per-document complement of
    * [[repeatedSpans]]: q90 surfaces the shared spans themselves, novelty
    * scores each doc by how little it shares — a standard crawl-curation
    * ranking signal.
    *
    * Scale shape: one shingle explosion behind a lazy localCheckpoint
    * (two consumers: the document-frequency aggregate and the join back),
    * a vocab-sized df table after map-side combine, one join shuffled on
    * the shingle, one per-doc aggregate. All-integer counts; the ratio
    * rounds once at the end — deterministic on any engine. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    val sh = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))"))).as("sh"))
      .localCheckpoint(eager = false)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6).as("novelty"))
  }

  /** Corpus-weighted adjacent character-pair frequencies over the word
    * vocabulary — one BPE training step's statistic (q88): the pair with
    * the max count is the next merge. Output: (l, r, pair_count), top-k
    * by (count desc, l, r).
    *
    * Scale shape: the pair explosion runs over the VOCABULARY (distinct
    * words + their corpus counts), not the corpus — the groupBy(w)
    * collapses a 100 TB token stream to vocab size first, and everything
    * after is vocab-sized. Two shuffles (vocab build, pair aggregate) +
    * a distributed top-k. All-integer arithmetic: deterministic on any
    * engine with no rounding machinery. */
  def bpePairCounts(docs: DataFrame, topK: Int): DataFrame =
    docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> struct(substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("l"), col("r"))
      .limit(topK)

  /** Full BPE tokenizer training (q102): iterate q88's pair-count step —
    * each round picks the highest-frequency adjacent symbol pair (count
    * desc, then (l, r) lexicographic: the deterministic tie-break) and
    * merges it greedily left-to-right inside every vocabulary word
    * (Sennrich et al. 2016). Returns the ordered merge table
    * (merge_rank, l, r, pair_count) — the artifact BPE training exists
    * to produce; rounds after pair exhaustion emit nothing.
    *
    * The greedy merge is an in-row fold: append each symbol unless the
    * accumulator's last element is `l` and the symbol is `r`, in which
    * case replace the last element with `l‖r`. This IS greedy
    * left-to-right replacement: a just-merged element equals `l‖r`,
    * which can never equal `l` (r is non-empty), so a merge result is
    * never consumed as the left half of an overlapping merge —
    * "aaa" → [aa, a], not [aa, aa].
    *
    * Scale shape: the corpus is read ONCE, for the word-frequency
    * vocabulary — the only corpus-sized aggregation. Every round after
    * that runs on the vocabulary table (distinct words: millions of
    * rows at 100 TB, not billions) with symbol arrays held in-row; the
    * per-round shuffle is the symbol-pair count table (vocab-of-pairs
    * sized). The argmax is a 1-row eagerly pinned frame broadcast back
    * onto the vocab — never collected to the driver — and each round's
    * vocab is an eager localCheckpoint (plan stays round-sized, the
    * q62 loop discipline) whose predecessor is released immediately via
    * [[graft.Barriers.release]], so live state is ≤2 vocab copies
    * regardless of round count. A round with no pairs left selects the
    * empty-string sentinel (it loses to any real pair, and no symbol is
    * ever the empty string), making the round a no-op filtered from the
    * output. */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int = 30): DataFrame = {
    val spark = docs.sparkSession
    var vocab = docs.select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("wc"))
      .localCheckpoint(eager = true)
    val merges = Seq.newBuilder[DataFrame]
    (1 to nMerges).foreach { k =>
      val best = bpeRoundPairs(vocab)
        .unionByName(spark.range(1).select(lit("").as("l"), lit("").as("r"),
          lit(-1L).as("pair_count")))
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
        .localCheckpoint(eager = true) // 1 row: pins this round's argmax
      merges += best.select(lit(k.toLong).as("merge_rank"), col("l"), col("r"),
        col("pair_count"))
      val next = vocab.crossJoin(broadcast(best.select(col("l"), col("r"))))
        .select(expr(
          """aggregate(syms, slice(syms, 1, 0),
            |  (acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = l AND x = r
            |    THEN concat(slice(acc, 1, size(acc) - 1), array(concat(l, r)))
            |    ELSE concat(acc, array(x)) END)""".stripMargin).as("syms"),
          col("wc"))
        .localCheckpoint(eager = true)
      graft.Barriers.release(vocab)
      vocab = next
    }
    // the merge table is nMerges 1-row pinned frames — materialize it,
    // then release the final vocab AND the per-round argmax pins (the
    // merge list, not the vocab, is this operator's product;
    // tokenization APPLIES merges to new text)
    val perRound = merges.result()
    val out = perRound.reduce(_.unionByName(_))
      .filter(col("pair_count") > 0)
      .localCheckpoint(eager = true)
    graft.Barriers.release(vocab)
    perRound.foreach(graft.Barriers.release)
    out
  }

  /** BPE tokenization (q103) — the APPLY face of [[bpeTrainMerges]] (the
    * q90/q95 detect/apply pattern): run the ordered merge table over
    * every word of every document and report per-doc subword counts
    * (n_words, n_subwords, subwords_per_word — the fertility statistic
    * that decides whether a tokenizer fits a corpus). Merges apply in
    * training order (rank ascending), each with the same greedy
    * left-to-right fold the trainer uses — train and apply CANNOT
    * disagree on merge semantics because they share the fold shape.
    *
    * Scale shape: the fold runs once per DISTINCT word — what every
    * real tokenizer does (a per-word cache) — then the per-word subword
    * counts join back onto the token stream and collapse to per-doc
    * rows with a map-side partial agg. The join is UNHINTED: AQE
    * broadcasts the vocab when it is small and shuffles when a 100 TB
    * crawl's garbage tokens make it huge (the q91 lesson — never force
    * the broadcast). Measured: the previous per-occurrence in-row fold
    * was zero-shuffle but re-tokenized every duplicate occurrence —
    * 84 s at sf0.1 vs ~6 s for this shape (SCALING.md); Heaps' law
    * only widens that gap with corpus size. */
  def bpeTokenize(docs: DataFrame, mergeTable: DataFrame): DataFrame = {
    val vocabSub = bpeVocabSubwords(docs, mergeTable)
      .select(col("w"), size(col("sub")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .join(vocabSub, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 6)
          .as("subwords_per_word"))
  }

  /** (w, sub): the subword array for every DISTINCT corpus word under
    * the merge table — [[bpeTokenize]]'s per-word cache, exposed for the
    * reconstruction property (concatenating a word's subwords must
    * reproduce the word: merges rearrange boundaries, never characters).
    * The merge table is tokenizer-sized, collapsed to ONE row holding
    * the rank-ordered merge array and broadcast. */
  private[graft] def bpeVocabSubwords(docs: DataFrame,
      mergeTable: DataFrame): DataFrame = {
    val mergeArr = mergeTable.agg(expr(
      "transform(array_sort(collect_list(struct(merge_rank, l, r))), m -> struct(m.l AS l, m.r AS r))")
      .as("merges"))
    docs.select(explode(words(col("text"))).as("w")).distinct()
      .crossJoin(broadcast(mergeArr))
      .select(col("w"), expr(
        """aggregate(merges,
          |  transform(sequence(1, length(w)), i -> substring(w, i, 1)),
          |  (syms, m) -> aggregate(syms, slice(syms, 1, 0),
          |    (acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = m.l AND x = m.r
          |      THEN concat(slice(acc, 1, size(acc) - 1), array(concat(m.l, m.r)))
          |      ELSE concat(acc, array(x)) END))""".stripMargin).as("sub"))
  }

  /** One BPE round's pair-count aggregation over a (syms, wc) vocabulary
    * — extracted so PlanSpec can budget the LOOP BODY (the final q102
    * plan is the pinned merge table and hides it): zero scans off a
    * checkpointed vocab, one map-side-combined shuffle of (l, r, count)
    * rows — vocab-of-pairs sized, never corpus-sized. */
  private[graft] def bpeRoundPairs(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("pair_count"))

  // ---------------------------------------------------------------------
  // DuckDB oracle replay (q102/q103): BPE training is iterative, but the
  // merge count is FIXED (30), so the loop unrolls into 30 relational
  // stages (the q110 unrolled-GD pattern). Each stage = adjacent-pair
  // counts (unnest + group), the sentinel-guarded (count DESC, l, r)
  // argmax (binary string ordering on both engines), and the greedy
  // left-to-right merge replayed as a list_reduce over the word's
  // symbols with a SPACE-JOINED STRING accumulator — sound because the
  // corpus tokenizes by splitting on ' ', so no symbol can ever contain
  // the separator. The fold is clause-for-clause [[bpeTrainMerges]]'s:
  // append x unless the accumulator's last element is l and x is r, in
  // which case replace it with l‖r — and a just-merged element equals
  // l‖r ≠ l, so overlaps resolve identically ("aaa" → [aa, a]). Every
  // stage CTE is MATERIALIZED (the q160 lesson: DuckDB inlines plain
  // CTEs and the 30-stage chain would expand exponentially). All
  // arithmetic is integer; no drift source exists. The final stage's
  // vocabulary is each word's full segmentation, which is exactly
  // [[bpeVocabSubwords]] — q103's oracle joins it onto the token stream.
  // ---------------------------------------------------------------------

  /** One stage's greedy-merge fold over `syms` under the stage's (l, r).
    * NOTE: no continuation line may START with `||` — this string is
    * interpolated into a template that stripMargins AFTER interpolation,
    * which would eat the first pipe of a leading `||`. */
  private def dkBpeMergeFold: String =
    """string_split(list_reduce(list_prepend('', v.syms), (acc, x) ->
      |      CASE WHEN acc = '' THEN x
      |           WHEN string_split(acc, ' ')[-1] = b.l AND x = b.r THEN
      |             CASE WHEN length(acc) = length(string_split(acc, ' ')[-1])
      |                  THEN b.l || b.r
      |                  ELSE left(acc, length(acc) - length(string_split(acc, ' ')[-1]) - 1) ||
      |                       ' ' || b.l || b.r END
      |           ELSE acc || ' ' || x END), ' ')""".stripMargin

  /** Training unrolled to `v<n>` (w, wc, syms) + per-stage argmaxes
    * `b<k>`. `pfx` namespaces every CTE so the q158 bake-off can embed
    * all three families\u2019 replays in one statement. */
  private[graft] def dkBpeTrainCtes(nMerges: Int, pfx: String = ""): String = {
    val head =
      s"""${pfx}v0 AS MATERIALIZED (
        |  SELECT w, wc,
        |    list_transform(range(1, length(w) + 1),
        |      i -> substr(w, CAST(i AS INT), 1)) AS syms
        |  FROM (SELECT w, count(*) AS wc FROM (
        |          SELECT unnest(list_filter(string_split(trim(text), ' '),
        |            x -> x != '')) AS w
        |          FROM documents) GROUP BY w))""".stripMargin
    val stages = (1 to nMerges).map { k =>
      s"""${pfx}p$k AS (SELECT u.s.l AS l, u.s.r AS r, CAST(sum(wc) AS BIGINT) AS pair_count
         |  FROM ${pfx}v${k - 1}, unnest(list_transform(range(1, len(syms)),
         |    i -> {'l': syms[i], 'r': syms[i + 1]})) AS u(s)
         |  GROUP BY 1, 2),
         |${pfx}b$k AS MATERIALIZED (SELECT l, r, pair_count FROM (
         |    SELECT l, r, pair_count FROM ${pfx}p$k
         |    UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
         |  ORDER BY pair_count DESC, l, r LIMIT 1),
         |${pfx}v$k AS MATERIALIZED (SELECT v.w, v.wc, $dkBpeMergeFold AS syms
         |  FROM ${pfx}v${k - 1} v, ${pfx}b$k b)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  private[graft] val dkBpeMerges = 30

  private[graft] def dkBpeQ102Sql: String =
    s"WITH ${dkBpeTrainCtes(dkBpeMerges)}\nSELECT * FROM (\n" +
      (1 to dkBpeMerges).map(k =>
        s"SELECT CAST($k AS BIGINT) AS merge_rank, l, r, pair_count FROM b$k")
        .mkString("", "\nUNION ALL\n", ")\n") +
      "WHERE pair_count > 0 ORDER BY merge_rank"

  private[graft] def dkBpeQ103Sql: String =
    s"""WITH ${dkBpeTrainCtes(dkBpeMerges)},
       |tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split(trim(text), ' '), x -> x != '')) AS w
       |  FROM documents)
       |SELECT tok.doc_id,
       |  count(*) AS n_words,
       |  CAST(sum(len(v.syms)) AS BIGINT) AS n_subwords,
       |  round(CAST(sum(len(v.syms)) AS DOUBLE) / count(*), 6) AS subwords_per_word
       |FROM tok JOIN v$dkBpeMerges v ON v.w = tok.w
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  /** Per-source distinct-token cardinality as MERGEABLE HLL sketches
    * (Apache DataSketches via Spark's hll_sketch_agg) — the incremental
    * form of corpus statistics: persist the per-source sketch table
    * (one ~2^lgK-byte binary per source), and when a new batch lands,
    * sketch ONLY the batch and hll_union_agg it with the stored
    * sketches. Sketching is deterministic, and union is exactly
    * associative: sketch(A ∪ B) = union(sketch(A), sketch(B)) — equal
    * ESTIMATES, not just close ones (CurationSpec pins the equality
    * through a persisted round-trip) — so nightly stats never re-read
    * the corpus. Estimate accuracy is the standard HLL ±~1.6%/sqrt(2^lgK)
    * band, gated in ScalaTest against exact countDistinct. */
  def vocabSketches(docs: DataFrame, lgK: Int = 12): DataFrame =
    docs.select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy("source").agg(expr(s"hll_sketch_agg(w, $lgK)").as("sketch"))

  /** (source, approx_vocab) from a sketch table — run after any number
    * of [[mergeVocabSketches]] rounds. */
  def vocabCardinality(sketches: DataFrame): DataFrame =
    sketches.select(col("source"),
      expr("hll_sketch_estimate(sketch)").as("approx_vocab"))

  /** Merge two per-source sketch tables (e.g. the persisted corpus table
    * and a fresh batch's) into one. */
  def mergeVocabSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source")
      .agg(expr("hll_union_agg(sketch)").as("sketch"))

  /** Per-source vocab cardinality under the engine-agnostic md5 HLL
    * family (q89's declared face — see [[Sketches.hllRegsMd5]]): same
    * incremental contract as [[vocabSketches]] (the register frame is
    * the persistable sketch; union = groupBy max), but every register
    * and the estimate arithmetic are plain relational expressions the
    * DuckDB oracle replays exactly. The DataSketches lane stays the
    * production default, in-suite accuracy-gated on the same shape. */
  def vocabCardinalityMd5(docs: DataFrame): DataFrame =
    Sketches.hllEstimateFromRegs(
        Sketches.hllRegsMd5(
          docs.select(col("source"), explode(words(col("text"))).as("w")),
          Seq("source"), "w"),
        Seq("source"))
      .select(col("source"), round(col("hll_est"), 3).as("approx_vocab"))

  /** Approximate source-overlap matrix under the md5 HLL family (q98's
    * declared face): per-source 8-gram register frames, pairwise union
    * via register max, inclusion–exclusion on the three estimates —
    * every stage relational, so the oracle verifies the ENTIRE sketch
    * path (registers, exact harmonic sums, correction branch,
    * inclusion–exclusion) instead of pinning a digest. Output mirrors
    * [[sourceOverlapSketched]]. Scale shape: the register frame is
    * sources × 4096 rows (built in one map-side-combined aggregation
    * over the shingle explode); everything after is sources²-bounded. */
  def sourceOverlapHllMd5(docs: DataFrame, n: Int = 8): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    val items = docs.select(col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))")).as("sh"))
    val regs = Sketches.hllRegsMd5(items, Seq("source"), "sh")
      .localCheckpoint(eager = false) // consumers: per-source ests + pair unions
    val est = Sketches.hllEstimateFromRegs(regs, Seq("source"))
      .localCheckpoint(eager = false) // both cross-join sides
    val a = est.select(col("source").as("src_a"), col("hll_est").as("est_a"))
    val b = est.select(col("source").as("src_b"), col("hll_est").as("est_b"))
    val pairs = a.crossJoin(broadcast(b)).filter(col("src_a") =!= col("src_b"))
    // pairwise union registers: sources² × 4096 rows, register-wise max
    val uregs = pairs.select("src_a", "src_b")
      .join(broadcast(regs),
        col("source") === col("src_a") || col("source") === col("src_b"))
      .groupBy("src_a", "src_b", "reg").agg(max(col("r")).as("r"))
    val uest = Sketches.hllEstimateFromRegs(uregs, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("hll_est").as("est_u"))
    pairs.join(uest, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"),
        round(col("est_a"), 3).as("n_a_approx"),
        round(greatest(col("est_a") + col("est_b") - col("est_u"), lit(0.0)), 3)
          .as("n_common_approx"),
        round(greatest(col("est_a") + col("est_b") - col("est_u"), lit(0.0))
          / col("est_a"), 6).as("overlap_frac_approx"))
  }

  /** Sliding-window token chunking (q100): split every document into
    * overlapping windows of `chunkTokens` tokens advancing by `stride` —
    * the retrieval/embedding-prep transform (each chunk is what gets
    * embedded and indexed; q82's packing is the training-side dual that
    * CONCATENATES docs instead). Output one row per (doc_id, chunk_id)
    * with the token span and chunk text; every window start < the doc's
    * token count emits, so short tails appear (and embed) rather than
    * silently dropping.
    *
    * Scale shape: pure in-row generate — one pruned corpus scan, zero
    * shuffle, whole-stage codegen'd; output size is rows ×
    * ceil(tokens/stride), the irreducible chunk count. */
  def chunkWindows(docs: DataFrame, chunkTokens: Int = 64,
      stride: Int = 32): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0L), size(col("ws")).cast("long") - 1L,
          lit(stride.toLong))).as("tok_start"))
      .select(col("doc_id"),
        (col("tok_start") / stride).cast("long").as("chunk_id"),
        col("tok_start"),
        size(slice(col("ws"), col("tok_start").cast("int") + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("ws"), col("tok_start").cast("int") + 1, lit(chunkTokens)))
          .as("chunk_text"))

  /** Per-source corpus profile (q99) — the dataset datasheet: doc and
    * token totals, token-count and quality percentiles, mean length,
    * language mix. One in-row projection (shuffle-free per row, reusing
    * the q41/q81 quality expression) and one aggregation by source.
    *
    * Scale note: `percentile` here is the EXACT interpolated form, safe
    * at 100 TB because both percentile domains have bounded cardinality —
    * Spark's implementation aggregates a (value → count) map, so state is
    * O(distinct values): token counts (thousands of distinct values) and
    * 6-decimal quality scores (≤10^6), never O(rows). For an unbounded
    * domain (raw doubles), swap in percentile_approx — the q81 exact/
    * approx pairing. */
  def sourceProfile(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(words(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        qualityExpr(col("text")).as("quality"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(expr("percentile(n_tokens, 0.5D)"), 6).as("tokens_p50"),
        round(expr("percentile(n_tokens, 0.95D)"), 6).as("tokens_p95"),
        round(expr("percentile(quality, 0.5D)"), 6).as("quality_p50"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"),
        round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double")
          / count(lit(1)), 6).as("frac_en"))

  /** Per-source HLL sketches of the distinct word n-gram sets — the
    * incremental half of [[sourceOverlapSketched]] (q98), built exactly
    * like [[vocabSketches]] (q89): persist the per-source sketch table
    * (one ~2^lgK-byte binary per source), sketch ONLY each new batch,
    * and [[mergeSourceShingleSketches]] it in — union is exactly
    * associative, so nightly overlap audits never re-read the corpus.
    * No distinct() before the agg: HLL absorbs duplicates by
    * construction, so the explode feeds the sketch directly (one
    * map-side-combined shuffle of sketch bytes, never shingle rows). */
  def sourceShingleSketches(docs: DataFrame, n: Int = 8, lgK: Int = 12): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs.select(col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))")).as("sh"))
      .groupBy("source").agg(expr(s"hll_sketch_agg(sh, $lgK)").as("sketch"))
  }

  /** Merge two per-source shingle-sketch tables (the persisted corpus
    * table and a fresh batch's). Estimates after merge equal the
    * full-recompute estimates EXACTLY (register-wise max is associative
    * and commutative) — CurationSpec pins the equality. */
  def mergeSourceShingleSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("source")
      .agg(expr("hll_union_agg(sketch)").as("sketch"))

  /** Approximate source-overlap matrix (q98) from a sketch table: for
    * every ordered source pair, inclusion-exclusion estimates
    * |A ∩ B| ≈ |A| + |B| − |A ∪ B| with the union estimated via the
    * scalar `hll_union` — output (src_a, src_b, n_a_approx,
    * n_common_approx, overlap_frac_approx), clamped at 0 (the
    * difference of estimates can dip negative on disjoint sets).
    *
    * Scale shape: the input is sources² pairs of ~2^lgK-byte binaries —
    * a broadcast cross join of two source-count-sized frames, zero
    * corpus access. Exactly the audit loop a 100 TB deployment runs
    * daily from persisted sketches while the exact q96 matrix runs
    * monthly. Accuracy: each estimate carries the standard
    * ±~1.6%/sqrt(2^lgK / 4096) HLL band; the intersection DIFFERENCE
    * amplifies relative error on near-disjoint pairs, so the ScalaTest
    * gate bounds absolute overlap-fraction error vs exact q96, not
    * relative. */
  def sourceOverlapSketched(sketches: DataFrame): DataFrame = {
    // sources-sized frame, TWO consumers (both sides of the cross join):
    // the barrier keeps a from-docs input from sketching the corpus twice
    val sk = sketches.localCheckpoint(eager = false)
    val a = sk.select(col("source").as("src_a"), col("sketch").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sketch").as("sk_b"))
    a.crossJoin(broadcast(b)).filter(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"),
        expr("hll_sketch_estimate(sk_a)").as("est_a"),
        expr("hll_sketch_estimate(sk_b)").as("est_b"),
        expr("hll_sketch_estimate(hll_union(sk_a, sk_b))").as("est_u"))
      .select(col("src_a"), col("src_b"),
        round(col("est_a"), 3).as("n_a_approx"),
        round(greatest(col("est_a") + col("est_b") - col("est_u"), lit(0.0)), 3)
          .as("n_common_approx"),
        round(greatest(col("est_a") + col("est_b") - col("est_u"), lit(0.0))
          / col("est_a"), 6).as("overlap_frac_approx"))
  }

  /** Per-source KMV sketches of the distinct word n-gram sets — the
    * DIRECT-intersection alternative to [[sourceShingleSketches]]'s
    * HLLs (q98's inclusion–exclusion difference amplifies relative
    * error exactly on the near-disjoint pairs an overlap audit hunts;
    * KMV's ρ·D_∪ estimator scales its error with the intersection
    * itself — see [[graft.functions.SketchAggs.KmvAgg]]). Same
    * persist/sketch-the-batch/merge incremental contract: k longs per
    * source, merge via [[mergeSourceShingleKmv]] is exactly
    * associative. */
  def sourceShingleKmv(docs: DataFrame, n: Int = 8, k: Int = 256,
      family: String = "xxhash64"): DataFrame = {
    import docs.sparkSession.implicits._
    val kmv = udaf(new graft.functions.SketchAggs.KmvAgg(k, family))
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs.select(col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))")).as("sh"))
      .groupBy("source").agg(kmv(col("sh")).as("kmv"))
  }

  /** Merge two per-source KMV tables (persisted corpus + fresh batch):
    * in-row sorted-merge + truncate of ≤ 2 k-arrays per source —
    * estimates after merge equal the full-recompute estimates exactly. */
  def mergeSourceShingleKmv(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame =
    a.unionByName(b).groupBy("source")
      .agg(expr(s"slice(array_sort(array_distinct(flatten(collect_list(kmv)))), 1, $k)")
        .as("kmv"))

  /** Approximate source-overlap matrix (q208) from KMV sketches:
    * D = (k−1)/x_k per side and for the merged union; intersection via
    * the DIRECT estimator ρ·D_∪ (ρ = share of the union sketch present
    * in both sides). Sub-k sketches are the exact distinct hash sets,
    * so every estimate degrades gracefully to EXACT on small sources —
    * the property the spec pins. Output mirrors q98 for comparability:
    * (src_a, src_b, n_a_approx, n_common_approx, overlap_frac_approx).
    * Scale shape: sources² pairs of k-long arrays, in-row lambda
    * arithmetic, zero corpus access. */
  def sourceOverlapKmv(sketches: DataFrame, k: Int = 256,
      normalizer: Double = 9.223372036854775807e18): DataFrame = {
    val sk = sketches.localCheckpoint(eager = false) // both cross-join sides
    val a = sk.select(col("source").as("src_a"), col("kmv").as("kmv_a"))
    val b = sk.select(col("source").as("src_b"), col("kmv").as("kmv_b"))
    // D(sketch): exact size when sub-k, else (k−1)/(x_k/normalizer) —
    // normalizer = the hash-space size: 2^63 for the xxhash64 lane, 2^60
    // for the md5 lane (15 hex chars)
    def dEst(c: String): Column =
      when(size(col(c)) < k, size(col(c)).cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (element_at(col(c), k).cast("double") / lit(normalizer)))
    a.crossJoin(broadcast(b)).filter(col("src_a") =!= col("src_b"))
      .withColumn("u", expr(s"slice(array_sort(array_distinct(concat(kmv_a, kmv_b))), 1, $k)"))
      .withColumn("rho_n",
        size(expr("array_intersect(array_intersect(u, kmv_a), kmv_b)")))
      .withColumn("d_a", dEst("kmv_a"))
      .withColumn("d_u",
        when(size(col("u")) < k, size(col("u")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("u"), k).cast("double") / lit(normalizer))))
      .withColumn("d_i",
        col("rho_n").cast("double") / size(col("u")) * col("d_u"))
      .select(col("src_a"), col("src_b"),
        round(col("d_a"), 3).as("n_a_approx"),
        round(col("d_i"), 3).as("n_common_approx"),
        round(col("d_i") / col("d_a"), 6).as("overlap_frac_approx"))
  }

  /** Source-overlap matrix (q96): for every ordered pair of sources
    * (A, B), the count and share of A's distinct word n-grams that also
    * occur in B — the corpus-composition audit that surfaces mirrored or
    * scraped-from-each-other sources before they skew dedup thresholds
    * and mixing weights. Output: (src_a, src_b, n_a, n_common,
    * overlap_frac), the full off-diagonal matrix including zero rows.
    *
    * Scale shape: the distinct (source, shingle) frame is built ONCE
    * behind a lazy barrier (two consumers: per-source totals + the pair
    * counts). Pairs come from a per-shingle `collect_set(source)` — one
    * map-side-combined aggregation by shingle, then an in-row ordered-pair
    * explode — so per-shingle work is bounded by (sources containing
    * it)², never a corpus-sized self-join; a shingle present in every
    * source costs sources² rows, independent of corpus size. The final
    * matrix assembly cross-joins two source-count-sized frames (hundreds
    * of rows at 100 TB — a bounded broadcast, same class as q80's one-row
    * total).
    *
    * Shuffle keys are xxhash64 of the shingle, not the ~50-byte text
    * (the q92 hash-space lesson): every downstream shuffle (the distinct,
    * the per-shingle source sets) carries 8-byte longs — measured 17.4 →
    * 7.6 MB written and 4.5 → 1.7 s at sf0.1 (same session), same
    * oracle-exact counts. A 64-bit
    * collision would merge two shingles and fail the count oracle; at
    * ~10⁹ distinct shingles the probability is ~10⁻², at test scale
    * ~10⁻⁸ — and unlike q92 no text recovery pass is needed because the
    * output is counts, never shingle text. */
  def sourceOverlapMatrix(docs: DataFrame, n: Int = 8): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    val srcSh = docs.select(col("source"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> xxhash64(concat_ws(' ', $parts)))"))).as("sh"))
      .distinct()
      .localCheckpoint(eager = false)
    val totals = srcSh.groupBy("source").agg(count(lit(1)).as("n_a"))
    val pairs = srcSh.groupBy("sh").agg(collect_set(col("source")).as("srcs"))
      .select(explode(expr(
        "flatten(transform(srcs, a -> transform(filter(srcs, b -> b != a), " +
          "b -> struct(a AS src_a, b AS src_b))))")).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    totals.select(col("source").as("src_a"), col("n_a"))
      .crossJoin(broadcast(totals.select(col("source").as("src_b"))))
      .filter(col("src_a") =!= col("src_b"))
      .join(pairs, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / col("n_a"), 6)
          .as("overlap_frac"))
  }

  /** Curation funnel (q97): the end-to-end composition face chaining the
    * repo's own gates — exact content dedup (q50 semantics: keep the
    * min-doc_id copy), per-source quality percentile gate (q81), and
    * benchmark decontamination (q74: drop docs with >= 50% of their
    * 8-grams shared with a bench doc) — emitting per-stage surviving
    * doc and token counts: the four-row run report a corpus build job
    * ships with its output.
    *
    * Scale shape: only ID SETS cross stage boundaries — each survivor
    * set is a doc_id-only frame behind a lazy barrier (8 bytes/row; the
    * full-text corpus is never materialized between stages, each stage's
    * branch re-reads the pruned parquet scan and semi-joins the id set).
    * The quality gate here is the exact window form to match the oracle;
    * a 100 TB run swaps in [[qualityThresholdFilterApprox]] (q81's
    * documented scale path) without touching the funnel shape. Bench
    * shingles come from the ORIGINAL corpus (the eval set is external to
    * the funnel — a doc dropped at stage 1 still contaminates). */
  def curationFunnel(docs: DataFrame, benchIds: DataFrame,
      keepFrac: Double = 0.8): DataFrame = {
    def stat(stage: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(words(col("text"))).cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    val s1Ids = docs.groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      .localCheckpoint(eager = false)
    val s1 = docs.join(s1Ids, Seq("doc_id"), "left_semi")
    val s2Ids = qualityPercentileFilter(s1, keepFrac).select("doc_id")
      .localCheckpoint(eager = false)
    val s2 = docs.join(s2Ids, Seq("doc_id"), "left_semi")
    val bad = decontaminationScanHashed(s2, benchShingleHashSet(docs, benchIds))
      .filter(col("contaminated")).select("doc_id")
    val s3 = s2.join(bad, Seq("doc_id"), "left_anti")
    stat("0_raw", docs)
      .unionAll(stat("1_exact_dedup", s1))
      .unionAll(stat("2_quality_gate", s2))
      .unionAll(stat("3_decontaminated", s3))
  }

  /** End-to-end curation pipeline (q223): near-dup gate → classifier
    * gate → token-budget mix → physical shard write, reporting per-stage
    * surviving doc/token counts (the q97 funnel shape, plus a final row
    * computed FROM THE WRITTEN SHARD FILES so the write path sits under
    * the correctness gate — q207's read-back discipline).
    *
    * Gate rules, each the oracle-checked form of its standalone face:
    *  - stage 1: drop every doc that surfaces in a q52 md5-lane MinHash
    *    LSH pair (16 lanes, 4 bands) at est_jaccard ≥ `dupThreshold`
    *    with a LOWER doc_id — the monotone at-ingest suppression the
    *    streaming signature store applies as docs arrive in id order
    *    (the index keeps every ingested doc's signature, so suppression
    *    of B against A does not un-suppress C against B: the rule is
    *    order-free and the streaming twin lands the identical set).
    *  - stage 2: per-source classifier-score percentile gate under the
    *    PERSISTED weight artifact (q217's scoring path — features are
    *    per-doc, so scoring the survivors equals scoring the corpus and
    *    filtering): keep each source's top `keepFrac` by score
    *    (percent_rank ≤ keepFrac, ties on doc_id — the q81 discipline).
    *    A relative cut, not an absolute 0.5 threshold: the 5-round GD
    *    scores cluster near the 25% base rate, so an absolute cut
    *    degenerates to zero survivors on the small corpora — the
    *    CCNet-style keep-best-fraction rule is what a production
    *    pipeline runs anyway.
    *  - stage 3: q77's per-source token budget in (md5(text), doc_id)
    *    order.
    *  - stage 4: [[writeShards]] on the stage-3 survivors; counts
    *    re-derived from the read-back files (must equal stage 3).
    *
    * Scale shape: only doc_id SETS cross stage boundaries (8 B/row
    * behind lazy barriers); the near-dup gate is the banded equi-join
    * with bucket caps, the classifier gate a one-row broadcast, the
    * budget one per-source window over (doc_id, n_tokens) pairs, the
    * shard write a manifest join + partitioned write. Nothing
    * re-reads text between stages except the final shard payload. */
  def curationPipeline(docs: DataFrame, weights: DataFrame,
      dupThreshold: Double = 0.5, keepFrac: Double = 0.5,
      budgetPerSource: Long = 800L, shardDir: Option[String] = None): DataFrame =
    curationPipelineFrom(docs,
      Dedup.minhashLshPairsMd5(docs, numHashes = 16, bands = 4)
        .filter(col("est_jaccard") >= dupThreshold)
        .select(col("d2").as("doc_id")).distinct(),
      weights, keepFrac, budgetPerSource, shardDir)

  /** [[curationPipeline]] from an ALREADY-SURFACED duplicate-id set —
    * the seam the streaming twin publishes through: the at-ingest sink
    * accumulates the pair log incrementally (batch×store cross pairs +
    * batch self pairs cover every pair of the union regardless of
    * arrival order), and publish time derives dupIds from the log
    * instead of re-shingling the corpus. Stages 2–4 are THIS code for
    * both faces, so twin parity reduces to pair-log completeness
    * (StreamingSpec plants scrambled-order batches and asserts the
    * identical 5-row report). */
  def curationPipelineFrom(docs: DataFrame, dupIds: DataFrame,
      weights: DataFrame, keepFrac: Double = 0.5,
      budgetPerSource: Long = 800L, shardDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def stat(stage: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(words(col("text"))).cast("long")), lit(0L)).as("n_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("n_tokens"))
    val s1 = docs.join(
      dupIds.localCheckpoint(eager = false), Seq("doc_id"), "left_anti")
    val prWin = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id"))
    val s2Ids = Classifier.classifierScore(s1, weights)
      .select(col("doc_id"), col("score"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("pr", round(percent_rank().over(prWin), 6))
      .filter(col("pr") <= keepFrac).select("doc_id")
      .localCheckpoint(eager = false)
    val s2 = docs.join(s2Ids, Seq("doc_id"), "left_semi")
    val s3Ids = tokenBudgetMix(s2, budgetPerSource).select("doc_id")
      .localCheckpoint(eager = false)
    val s3 = docs.join(s3Ids, Seq("doc_id"), "left_semi")
    val out = shardDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-q223-shards").toString)
    val s4 = writeShards(s3, out).agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit("4_shards_written").as("stage"), col("n_docs"), col("n_tokens"))
    stat("0_raw", docs)
      .unionAll(stat("1_near_dup_gate", s1))
      .unionAll(stat("2_classifier_gate", s2))
      .unionAll(stat("3_token_budget", s3))
      .unionAll(s4)
  }

  /** q223 oracle: the q52 md5-lane pair CTEs, the q217 artifact-scoring
    * CTEs, and the q77 budget window composed into ONE statement (the
    * q158 composition pattern) — every fragment verbatim from its
    * standalone face's committed oracle, so the pipeline face and its
    * components cannot desynchronize. Stage 4 equals stage 3
    * arithmetically; the FACE derives it from the written files, which
    * is exactly what the equality verifies. */
  private def q223Sql: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
       |           FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
       |       FROM w WHERE len(ws) >= 3),
       |${Dedup.md5SigCtesSql(16)},
       |band AS (SELECT doc_id, lane // 4 AS band,
       |           string_agg(CAST(v AS VARCHAR), ',' ORDER BY lane) AS key
       |         FROM sig GROUP BY doc_id, lane // 4),
       |ok AS (SELECT band, key FROM band GROUP BY 1, 2 HAVING count(*) <= 10000),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM band a JOIN ok USING (band, key) JOIN band b USING (band, key)
       |         WHERE a.doc_id < b.doc_id),
       |agree AS (SELECT c.d1, c.d2,
       |            sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS eq
       |          FROM cand c JOIN sig sa ON sa.doc_id = c.d1
       |                      JOIN sig sb ON sb.doc_id = c.d2 AND sb.lane = sa.lane
       |          GROUP BY 1, 2),
       |dup AS (SELECT DISTINCT d2 AS doc_id FROM agree
       |        WHERE CAST(eq AS DOUBLE) / 16 >= 0.5),
       |tok AS (SELECT doc_id, source, md5(text) AS h,
       |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS n_tokens
       |  FROM documents),
       |s1 AS (SELECT doc_id FROM documents
       |       WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
       |${Classifier.dkClfArtifactCtes("q223")},
       |${Classifier.dkClfScoreCte},
       |s2 AS (SELECT doc_id FROM (
       |    SELECT s1.doc_id,
       |      round(percent_rank() OVER (PARTITION BY t.source
       |        ORDER BY scored.score DESC, s1.doc_id), 6) AS pr
       |    FROM s1 JOIN scored ON scored.doc_id = s1.doc_id
       |            JOIN tok t ON t.doc_id = s1.doc_id) z
       |  WHERE pr <= 0.5),
       |c AS (SELECT t.doc_id, t.source, t.n_tokens,
       |    CAST(sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.h, t.doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM tok t JOIN s2 USING (doc_id)),
       |s3 AS (SELECT doc_id FROM c WHERE cum - n_tokens < 800),
       |stats AS (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs,
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM tok
       |  UNION ALL SELECT '1_near_dup_gate', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s1 USING (doc_id)
       |  UNION ALL SELECT '2_classifier_gate', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s2 USING (doc_id)
       |  UNION ALL SELECT '3_token_budget', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s3 USING (doc_id)
       |  UNION ALL SELECT '4_shards_written', count(*),
       |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM tok JOIN s3 USING (doc_id))
       |SELECT stage, n_docs, n_tokens FROM stats ORDER BY stage""".stripMargin

  /** Distinct word n-gram shingles, one row per (doc_id, sh). Complex
    * generator child on purpose — see graft.operators.Dedup.shingles on
    * InferFiltersFromGenerate. */
  private[operators] def shinglesN(docs: DataFrame, n: Int): DataFrame = {
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))"))).as("sh"))
  }

  // ---------------------------------------------------------------------
  // q149: batch padding-waste audit
  // ---------------------------------------------------------------------

  /** Padding-waste comparison between ARRIVAL-order batching and
    * LENGTH-SORTED batching at a fixed batch size: each strategy
    * assigns docs to batches of `batchSize` in its order, pads every
    * row to the batch max, and reports the padded-slot fraction — the
    * training-efficiency audit that justifies length bucketing
    * (sequence packing, q82, is the aggressive alternative; this
    * measures what plain batching leaves on the table).
    *
    * The global ranks are computed HIERARCHICALLY (the q121/q115
    * discipline): within-bucket row_number + an exclusive bucket-offset
    * table — never a no-partition window that collapses the corpus onto
    * one partition. Sorted-order buckets are the token-length VALUES
    * (bounded domain); arrival buckets are doc_id ranges. The oracle's
    * global windows prove both decompositions exact. All-integer until
    * the final division. */
  def paddingWaste(docs: DataFrame, batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"),
        size(words(col("text"))).cast("long").as("nt"))
      .localCheckpoint(eager = false) // consumers: both strategies
    def hierRank(df: DataFrame, bucket: Column, order: Seq[Column]): DataFrame = {
      val withB = df.withColumn("bkt", bucket)
      val rnIn = withB.withColumn("rn_in",
        row_number().over(Window.partitionBy("bkt").orderBy(order: _*)))
      val offsets = withB.groupBy("bkt").agg(count(lit(1)).as("n"))
        .withColumn("off", coalesce(sum(col("n")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("bkt"), col("off"))
      rnIn.join(offsets, Seq("bkt"))
        .withColumn("rank", col("off") + col("rn_in"))
    }
    val arrival = hierRank(t, (col("doc_id") / 4096L).cast("long"),
      Seq(col("doc_id"))).withColumn("strategy", lit("arrival"))
    val sorted = hierRank(t, col("nt"), Seq(col("doc_id")))
      .withColumn("strategy", lit("sorted"))
    val batches = arrival.unionByName(sorted)
      .select(col("strategy"), ((col("rank") - 1) / batchSize).cast("long").as("bid"),
        col("nt"))
      .groupBy("strategy", "bid")
      .agg(count(lit(1)).as("cnt"), max(col("nt")).as("mx"), sum(col("nt")).as("sm"))
    batches.groupBy("strategy").agg(
        sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum(col("sm")).as("token_sum"),
        sum(col("mx") * col("cnt")).as("slot_sum"))
      .select(col("strategy"), col("n_docs"), col("n_batches"),
        col("token_sum"), col("slot_sum"),
        round(lit(1.0) - col("token_sum").cast("double") / col("slot_sum"), 6)
          .as("waste_frac"))
      .orderBy("strategy")
  }

  // ---------------------------------------------------------------------
  // q184: heavy-tail index (Hill estimator)
  // ---------------------------------------------------------------------

  /** Hill estimator (1975) of the doc-length tail index: over the top
    * k+1 token counts, α = k / Σ ln(x_i / x_ref) with x_ref the
    * (k+1)-th largest — the number that says whether the corpus's long
    * documents are a power-law tail (α ≈ 1–2: a few megadocs dominate,
    * size batching/packing policy must assume extremes) or tame. The
    * complement of q157: Gini measures concentration of the whole mass,
    * Hill measures how the extreme tail decays.
    *
    * Tie subtlety that keeps the estimate well-defined: rows tied with
    * x_ref contribute ln(1) = 0, so Σ over the whole top-(k+1) frame
    * equals Σ over any choice of "the top k" — no tie-break policy can
    * change the answer. TakeOrdered bounds the frame at k+1 rows;
    * ln terms round to DECIMAL(18,9) pre-sum (the q116 discipline);
    * α is one division. All-equal lengths → S = 0 → NULL α. */
  def tailIndexHill(docs: DataFrame, k: Int = 100): DataFrame = {
    val top = docs
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("nt"))
      .filter(col("nt") > 0)
      .orderBy(col("nt").desc, col("doc_id")).limit(k + 1)
      .localCheckpoint(eager = false) // consumers: x_ref + the log sum
    val xref = top.agg(min(col("nt")).as("x_ref"))
    // k derives from the rows ACTUALLY in the top frame (count − 1, the
    // x_ref row being the reference), not the requested k: a corpus with
    // fewer than k+1 qualifying docs would otherwise overstate α by
    // dividing a short sum by the full k. m < 2 → NULL α (no tail).
    top.crossJoin(broadcast(xref))
      .agg(count(lit(1)).as("m"), first(col("x_ref")).as("x_ref"),
        sum(expr("CAST(round(ln(CAST(nt AS DOUBLE) / x_ref), 9) AS DECIMAL(18,9))"))
          .as("s"))
      .select((col("m") - 1L).as("k"), col("x_ref"),
        round(col("s").cast("double"), 6).as("sum_log"),
        round((col("m") - 1L).cast("double")
          / nullif(col("s").cast("double"), lit(0.0)), 6).as("alpha"))
  }

  // ---------------------------------------------------------------------
  // q183: filter-agreement audit (Cohen's kappa)
  // ---------------------------------------------------------------------

  /** Pairwise agreement between three independent quality gates — the
    * Gopher rule pass (q133), the heuristic-quality threshold (q41 ≥
    * 0.5), and the char-entropy floor (q163 ≥ 3 nats) — as raw agree
    * rates AND Cohen's kappa (chance-corrected: two gates that both
    * pass 95% of docs agree 90%+ by luck alone; kappa subtracts that).
    * The audit that tells you whether stacked filters are redundant or
    * actually orthogonal.
    *
    * Kappa is computed ALL-INTEGER from the 2×2 confusion counts:
    * κ = (n·agree − pe_num) / (n² − pe_num) with pe_num = r1·c1 + r0·c0
    * — products ride DECIMAL(38,0) (n² overflows a long at crawl
    * scale), one correctly-rounded division per pair. One pass builds
    * the per-doc flag frame behind a barrier; each pair is a one-row
    * aggregate over it. */
  def filterAgreement(docs: DataFrame): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // the corpus-calibrated required-word list, as in the declared q133
    // (the English default constant-fails this vocabulary)
    val g = gopherRules(docs, corpusRequiredWords)
      .select(col("doc_id"), col("keep").as("gopher"))
    val q = docs.select(col("doc_id"),
      coalesce(qualityExpr(col("text")) >= 0.5, lit(false)).as("quality"))
    val e = TextAnalysis.charEntropy(docs)
      .select(col("doc_id"), (col("entropy_nats") >= 3.0).as("entropy"))
    val flags = g.join(q, Seq("doc_id"))
      .join(e, Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher"), col("quality"),
        coalesce(col("entropy"), lit(false)).as("entropy"))
      .localCheckpoint(eager = false) // consumers: three pair aggregates
    val pairs = Seq(("entropy", "gopher"), ("entropy", "quality"),
      ("gopher", "quality"))
    pairs.map { case (a, b) =>
      flags.agg(
          count(lit(1)).as("n"),
          sum(when(col(a) && col(b), 1L).otherwise(0L)).as("n11"),
          sum(when(col(a) && !col(b), 1L).otherwise(0L)).as("n10"),
          sum(when(!col(a) && col(b), 1L).otherwise(0L)).as("n01"),
          sum(when(!col(a) && !col(b), 1L).otherwise(0L)).as("n00"))
        .select(lit(a).as("filter_a"), lit(b).as("filter_b"), col("n"),
          (col("n11") + col("n00")).as("n_agree"),
          round((col("n11") + col("n00")).cast("double") / col("n"), 6)
            .as("agree_rate"),
          round(
            (d38(col("n")) * d38(col("n11") + col("n00"))
              - (d38(col("n11") + col("n10")) * d38(col("n11") + col("n01"))
                + d38(col("n01") + col("n00")) * d38(col("n10") + col("n00"))))
              .cast("double")
              / nullif((d38(col("n")) * d38(col("n"))
                - (d38(col("n11") + col("n10")) * d38(col("n11") + col("n01"))
                  + d38(col("n01") + col("n00")) * d38(col("n10") + col("n00"))))
                .cast("double"), lit(0.0)), 6).as("kappa"))
    }.reduce(_.unionByName(_)).orderBy("filter_a", "filter_b")
  }

  // ---------------------------------------------------------------------
  // q179: Neyman minimum-variance sampling allocation
  // ---------------------------------------------------------------------

  /** Neyman allocation (1934): split a fixed sampling budget across
    * sources ∝ n_s·σ_s — the minimum-variance stratified design for
    * estimating corpus-level statistics (proportional allocation
    * oversamples homogeneous strata; q76's stratified sample is the
    * proportional baseline this improves on). σ_s is the exact sample
    * sd of doc token counts from integer sufficient statistics
    * (n, Σx, Σx² — the q137 discipline; products ride DECIMAL(38,0) so
    * a 100 TB source's Σx² cannot overflow), rounded to 6; singleton
    * sources get weight 0.
    *
    * The integerized largest-remainder method makes allocations EXACT
    * and engine-identical: weights scale to ×10⁶ integers, each source
    * takes floor(B·w/W) with integer div/mod, and the leftover
    * (B − Σ floor) goes to the largest remainders (ties by source) —
    * allocations always sum to exactly B, with zero float thresholds.
    * Everything after the one corpus scan is sources-sized. */
  def neymanAllocation(docs: DataFrame, budget: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val s = docs
      .select(col("source"), size(words(col("text"))).cast("long").as("x"))
      .groupBy("source").agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val sd = when(col("n") > 1,
      round(sqrt((d38(col("n")) * d38(col("sxx")) - d38(col("sx")) * d38(col("sx")))
        .cast("double") / (d38(col("n")) * d38(col("n") - 1)).cast("double")), 6))
      .otherwise(lit(0.0))
    val w = s.withColumn("sd", sd)
      .withColumn("w_int",
        (round(col("n") * col("sd"), 6).cast("decimal(18,6)") * lit(1000000L))
          .cast("long"))
      .localCheckpoint(eager = false) // consumers: totals + allocation
    val tot = w.agg(sum(col("w_int")).as("w_tot"))
    val withBase = w.crossJoin(broadcast(tot))
      .withColumn("base",
        when(col("w_tot") > 0, expr(s"($budget * w_int) div w_tot"))
          .otherwise(lit(0L)))
      .withColumn("rem",
        when(col("w_tot") > 0, expr(s"($budget * w_int) % w_tot"))
          .otherwise(lit(0L)))
      .localCheckpoint(eager = false) // consumers: leftover + output
    val leftover = withBase.agg((lit(budget) - sum(col("base"))).as("k"))
    withBase.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long")) // sources-sized
      .select(col("source"), col("n").as("n_docs"), col("sd"),
        round(col("w_int").cast("double") / 1e6, 6).as("weight"),
        (col("base") + when(col("rk") <= col("k"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // q171: Poisson-bootstrap confidence intervals
  // ---------------------------------------------------------------------

  /** Per-source mean-quality estimate with a Poisson-bootstrap 95% CI —
    * the error bars every corpus-quality dashboard (q99, q142) should
    * carry. The bootstrap is the DISTRIBUTED variant (Poisson(1)
    * resample weights per (doc, replicate) instead of multinomial draws
    * — the standard trick, since a per-row independent weight needs no
    * global coordination), and the "randomness" is the q104
    * deterministic multiplicative-hash coin keyed on (doc_id,
    * replicate) — the replicate folds into the key BEFORE the Knuth
    * multiply, so consecutive b values land ~0.618 apart in [0,1)
    * (an additive post-multiply term would move u by only ~1e-5 per
    * replicate and collapse every replica onto one draw): pure
    * integer arithmetic, identical on any engine and
    * partitioning, RNG-free. Overflow discipline: the mixed key is
    * reduced mod 2³¹ BEFORE the 2654435761 multiply, so the product
    * stays ≤ (2³¹−1)·2654435761 ≈ 5.7e18 < 2⁶³−1 at ANY doc_id —
    * without the reduction, doc_id·131071·2654435761 leaves Int64
    * around doc_id ≈ 26,500, where non-ANSI Spark wraps silently
    * (collapsing weights to 0) and DuckDB raises. (Reducing mod 2³²
    * would NOT be enough: 2³²·2654435761 ≈ 1.14e19 still overflows.) Weights land in {0,1,2,3} via fixed
    * cumulative-Poisson(1) thresholds (e⁻¹, 2e⁻¹, 2.5e⁻¹ — literals
    * shared with the oracle).
    *
    * Replica means sum DECIMAL(18,6), round to 6, and the CI takes
    * exact percentiles over the B-sized replica frame (the q145
    * percentile-agreement precedent). Scale shape: the corpus expands
    * ×B but collapses immediately under map-side combine to
    * (sources × B) cells — B is the dial; everything after is
    * sources-sized. */
  def bootstrapQualityCi(docs: DataFrame, reps: Int = 50): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), qualityExpr(col("text")).as("quality"))
      .filter(col("quality").isNotNull)
      .localCheckpoint(eager = false) // consumers: point estimate + replicas
    val point = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      round(sum(col("quality").cast("decimal(18,6)")).cast("double")
        / count(lit(1)), 6).as("mean_quality"))
    val replicas = base
      .select(col("source"), col("doc_id"), col("quality"),
        explode(expr(s"sequence(1, $reps)")).as("b"))
      .withColumn("u",
        ((((col("doc_id") % lit(2147483648L)) * lit(131071L) + col("b"))
          % lit(2147483648L) * lit(2654435761L))
          % lit(4294967296L)).cast("double") / lit(4294967296.0))
      .withColumn("w",
        when(col("u") < 0.367879441, 0L).when(col("u") < 0.735758882, 1L)
          .when(col("u") < 0.919698603, 2L).otherwise(3L))
      .groupBy("source", "b")
      .agg(sum(col("w")).as("nw"),
        sum((col("w") * col("quality")).cast("decimal(18,6)")).as("qs"))
      .select(col("source"),
        round(col("qs").cast("double") / nullif(col("nw"), lit(0L)), 6)
          .as("rep_mean"))
    val ci = replicas.groupBy("source").agg(
      round(expr("percentile(rep_mean, 0.025)"), 6).as("ci_lo"),
      round(expr("percentile(rep_mean, 0.975)"), 6).as("ci_hi"))
    point.join(ci, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_quality"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // q165: vocabulary-growth (Heaps-law) curve
  // ---------------------------------------------------------------------

  /** Vocabulary growth in ingestion order: per `bucketDocs`-doc bucket,
    * how many NEVER-SEEN-BEFORE words arrive, plus cumulative docs and
    * vocabulary — the empirical Heaps-law curve that sizes tokenizer
    * vocabularies and predicts distinct-word cache growth (the q103
    * lesson quantified as a curve).
    *
    * Shape: a word's first appearance is min(doc_id) — one corpus-sized
    * aggregation with map-side combine; everything after runs on the
    * (vocab-sized first-doc, then bucket-count-sized) frames. The
    * cumulative window orders the BUCKET frame (corpus/bucketDocs rows —
    * the q121 bucket-offset shape; widen bucketDocs as the corpus
    * grows). All-integer. */
  def vocabGrowth(docs: DataFrame, bucketDocs: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDoc = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
    val newWords = firstDoc
      .groupBy(expr(s"fd div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_new_words"))
    val docCounts = docs
      .groupBy(expr(s"doc_id div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docCounts.join(newWords, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_new_words"), lit(0L)).as("n_new_words"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_vocab", sum(col("n_new_words")).over(w))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------------
  // q157: token-mass concentration (Gini / top-decile share)
  // ---------------------------------------------------------------------

  /** Per-source token-mass concentration: the Gini coefficient of doc
    * token counts plus the share of tokens held by the top decile of
    * docs — the "is this source a few megadocs or many small pages"
    * audit that decides chunking and sampling policy per source.
    *
    * Everything derives from the per-source LENGTH HISTOGRAM in closed
    * form — never a per-row rank window (which would collapse each
    * source onto one partition; the q149 lesson taken one step
    * further): for a bucket of `cnt` docs of length `v` starting after
    * `off` smaller docs, Σ rank·v = v·(off·cnt + cnt(cnt+1)/2), and the
    * top-decile take is clamp(k − rows_above, 0, cnt) walking buckets
    * from the largest value down. Both are exact integer sums — ties
    * don't matter because equal values contribute identically under any
    * tie order, which is also why the oracle's per-row row_number
    * windows (its ranks tie-break on doc_id) prove the decomposition
    * exact. G = 2·Σrank·x/(n·Σx) − (n+1)/n; all-integer until two
    * correctly-rounded divisions. */
  def tokenGini(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs
      .select(col("source"), size(words(col("text"))).cast("long").as("nt"))
      .groupBy("source", "nt").agg(count(lit(1)).as("cnt"))
    val wAsc = Window.partitionBy("source").orderBy("nt")
    val b = h
      .withColumn("off", coalesce(sum(col("cnt")).over(
        wAsc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src",
        sum(col("cnt")).over(Window.partitionBy("source")))
      .withColumn("above", col("n_src") - col("off") - col("cnt"))
      .withColumn("take",
        greatest(lit(0L), least(col("cnt"),
          expr("n_src div 10") - col("above"))))
    b.groupBy("source").agg(
        sum(col("cnt")).as("n_docs"),
        sum(col("nt") * col("cnt")).as("token_sum"),
        sum(col("nt") * (col("off") * col("cnt")
          + expr("(cnt * (cnt + 1)) div 2"))).as("s1"),
        sum(col("nt") * col("take")).as("top_sum"))
      .select(col("source"), col("n_docs"), col("token_sum"),
        round(lit(2.0) * col("s1")
          / (col("n_docs") * col("token_sum")).cast("double")
          - (col("n_docs") + 1).cast("double") / col("n_docs"), 6).as("gini"),
        round(col("top_sum").cast("double") / col("token_sum"), 6)
          .as("top_decile_share"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // q140: UniMax epoch-capped budget allocation
  // ---------------------------------------------------------------------

  /** UniMax (Chung et al. 2023): allocate a token budget uniformly
    * across sources with a per-source epoch cap — small sources are
    * capped at `maxEpochs` passes and their leftover redistributes
    * uniformly among the rest. The third mixing policy beside
    * temperature scaling (q107) and fractional-epoch targets (q113);
    * the paper's result is that this beats tuned temperatures at scale.
    *
    * The iterative waterfall has a CLOSED FORM over capacity-ascending
    * sources: source i is capped iff cap_i·(S−i+1) < B − Σ_{j<i} cap_j
    * (once the condition fails it fails for every later source — the
    * fair share only shrinks relative to the growing caps), so one
    * window pass + one aggregate replace the loop. With B expressed as
    * the exact fraction budgetNum/budgetDen of total tokens, the capped
    * flag is ALL-INTEGER arithmetic (scale both sides by budgetDen);
    * the final fair share is one correctly-rounded division of exact
    * integers — bit-identical across engines.
    *
    * Scale shape: one corpus scan to per-source masses; everything else
    * is sources-sized (the single-partition window is dozens of rows —
    * the documented q115 exemption). */
  def unimaxAllocation(docs: DataFrame, maxEpochs: Int = 1,
      budgetNum: Int = 9, budgetDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = docs
      .select(col("source"), size(words(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("m"))
    val tot = m.agg(sum(col("m")).as("m_total"))
    val ord = Window.orderBy(col("cap"), col("source"))
    val ranked = m.crossJoin(broadcast(tot))
      .withColumn("cap", col("m") * maxEpochs)
      .withColumn("i", row_number().over(ord))
      .withColumn("s_total", count(lit(1)).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum", coalesce(sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // cap·(S−i+1) < B − cum, both sides × budgetDen: all-integer
      .withColumn("capped",
        col("cap") * (col("s_total") - col("i") + 1) * budgetDen <
          col("m_total") * budgetNum - col("cum") * budgetDen)
      .localCheckpoint(eager = false) // consumers: cap stats + output
    val capStats = ranked.agg(
      sum(when(col("capped"), col("cap")).otherwise(0L)).as("cap_sum"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("n_capped"))
    ranked.crossJoin(broadcast(capStats))
      .select(col("source"), col("m").as("n_tokens"), col("cap").as("capacity"),
        col("capped"),
        round(when(col("capped"), col("cap").cast("double"))
          .otherwise((col("m_total") * budgetNum - col("cap_sum") * budgetDen)
            .cast("double") / ((col("s_total") - col("n_capped")) * budgetDen)), 6)
          .as("allocated"),
        round(when(col("capped"), lit(maxEpochs.toDouble))
          .otherwise((col("m_total") * budgetNum - col("cap_sum") * budgetDen)
            .cast("double") / ((col("s_total") - col("n_capped")) * budgetDen)
            / col("m")), 6).as("epochs"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------------
  // q134: DSIR hashed-n-gram importance weights
  // ---------------------------------------------------------------------

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by the log likelihood ratio of its hashed-unigram bag under a
    * target-distribution model (the md5-prefix reference slice — the
    * q105/q110 convention) vs a raw-distribution model (the rest), then
    * select the per-source top quarter by weight. Both multinomials are
    * add-half smoothed over [[buckets]] hashed dims.
    *
    * Determinism: the token→bucket hash is the classifier's
    * polynomial-31 — computed with a PER-STEP mod so it can never
    * overflow (DuckDB raises on BIGINT overflow where the JVM wraps;
    * per-step mod keeps both engines in range and identical). Per-(doc,
    * bucket) contributions round to DECIMAL(18,9) pre-sum (the q87
    * discipline); selection is integer rank arithmetic per source (the
    * q105 shape — a GLOBAL top-k window would collapse the corpus onto
    * one partition, the q115 trap).
    *
    * Scale shape: one corpus scan; the exploded token frame sits behind
    * a lazy barrier (two consumers: bucket stats + per-doc counts);
    * everything else is bucket-sized (≤ [[buckets]] rows, broadcast) or
    * rides the per-source window's hash shuffle. */
  def dsirWeights(docs: DataFrame, buckets: Int = 512,
      isRef: Column = substring(md5(col("text")), 1, 1) <= "3"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bExpr = "aggregate(sequence(1, length(t)), CAST(0 AS BIGINT), " +
      s"(h, i) -> (h*31 + ascii(substring(t, i, 1))) % 1048576) % $buckets"
    val tb = docs.select(col("doc_id"), col("source"),
        isRef.as("is_ref"),
        explode(words(col("text"))).as("t"))
      .select(col("doc_id"), col("source"), col("is_ref"), expr(bExpr).as("b"))
      .localCheckpoint(eager = false)
    val st = tb.groupBy("b").agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_ref"), 0L).otherwise(1L)).as("cr"))
    val tot = st.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lp = st.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + 0.5) / (col("nt") + buckets * 0.5)) -
          log((col("cr") + 0.5) / (col("nr") + buckets * 0.5))).as("diff"))
    val db = tb.groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    val contrib = db.join(broadcast(lp), Seq("b"))
      .select(col("doc_id"), col("source"), col("c"),
        round(col("c") * col("diff"), 9).cast("decimal(18,9)").as("lw"))
    val scored = contrib.groupBy("doc_id", "source")
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("lw")).cast("double"), 6).as("log_weight"))
    val bySrc = Window.partitionBy("source")
    val win = bySrc.orderBy(col("log_weight").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(win))
      .withColumn("n", count(lit(1)).over(bySrc))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("log_weight"),
        ((col("rn") - 1) * 4 < col("n")).as("selected"))
  }

  // ---------------------------------------------------------------------
  // q133: Gopher-rule document filter
  // ---------------------------------------------------------------------

  /** Gopher's required words (Rae et al. 2021, Appendix A1.1): a doc must
    * contain at least 2 of these to pass the stopword rule — the face's
    * default. The DECLARED q133 instead passes [[corpusRequiredWords]]:
    * the synthetic vocabulary contains only 'the' and 'a' from English
    * function words (measured — Gopher's list would constant-fail every
    * doc and make `keep` degenerate), so the query keeps the published
    * rule STRUCTURE with the corpus's own stopword inventory. Both lists
    * feed the oracle-SQL builder, so the two sides cannot drift. */
  private[graft] val gopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The function words that actually occur in the synthetic corpus. */
  private[graft] val corpusRequiredWords: Seq[String] = Seq("the", "a")

  private def requiredWordsSqlList(req: Seq[String]): String =
    req.map(w => s"'$w'").mkString(", ")

  /** Per-doc Gopher rule flags + stats. Every rule compares the ROUNDED
    * (6 dp) statistic so boundary docs land identically in both engines;
    * ratio rules on empty docs (NULL statistic) coalesce to false in
    * both. Pure in-row column expressions — nothing here shuffles. */
  def gopherRules(docs: DataFrame,
      requiredWords: Seq[String] = gopherRequiredWords): DataFrame = {
    val reqArr = array(requiredWords.map(lit): _*)
    val s = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_words"),
      expr("aggregate(filter(split(trim(text), ' '), x -> x != ''), CAST(0 AS BIGINT), (a, w) -> a + length(w))")
        .as("char_sum"),
      regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long").as("n_sym"),
      size(filter(words(col("text")), w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      size(filter(reqArr, r => array_contains(words(col("text")), r))).cast("long")
        .as("n_required"))
    val m = s.select(col("doc_id"), col("n_words"),
      round(col("char_sum").cast("double") / nullif(col("n_words"), lit(0L)), 6)
        .as("mean_word_len"),
      round(col("n_sym").cast("double") / nullif(col("n_words"), lit(0L)), 6)
        .as("symbol_word_ratio"),
      round(col("n_alpha").cast("double") / nullif(col("n_words"), lit(0L)), 6)
        .as("alpha_word_frac"),
      col("n_required"))
    val r = m
      .withColumn("r_word_count", col("n_words").between(50, 100000))
      .withColumn("r_mean_word_len",
        coalesce(col("mean_word_len").between(3.0, 10.0), lit(false)))
      .withColumn("r_symbol_ratio",
        coalesce(col("symbol_word_ratio") <= 0.1, lit(false)))
      .withColumn("r_alpha_words",
        coalesce(col("alpha_word_frac") >= 0.8, lit(false)))
      .withColumn("r_required_words", col("n_required") >= 2)
    val ruleCols = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
      "r_alpha_words", "r_required_words")
    r.withColumn("n_failed",
        lit(5) - ruleCols.map(c => col(c).cast("int")).reduce(_ + _))
      .withColumn("keep", ruleCols.map(col).reduce(_ && _))
  }

  // ---------------------------------------------------------------------
  // q123: Bloom-filter decontamination (zero-corpus-shuffle face)
  // ---------------------------------------------------------------------

  /** Kirsch–Mitzenmacher double hashing: position j = (h1 + j·h2) mod m,
    * with h1/h2 the two md5 HALVES (14 hex chars each = 56 bits; h2
    * forced odd so consecutive probes never degenerate). md5, not
    * xxhash64/murmur3, because the md5 value is ENGINE-AGNOSTIC (the
    * q93/q104 coin discipline) — DuckDB computes the identical bit
    * array, which is what upgrades q123 from golden-pinned to
    * oracle-checked. Overflow-safe by construction: h1 < 2⁵⁶ and
    * j·h2 < 4·2⁵⁷, so the sum stays ≤ 6.5e17 ≪ 2⁶³. ONE generator
    * emits the expression for both the build and probe sides, so they
    * cannot disagree on the hash family (the q72 generated-oracle
    * discipline, applied engine-internally); the DuckDB oracle carries
    * the same formula with its own hex-to-int spelling. The md5-per-
    * probe cost on the corpus side (~3× a hash probe; measured 2.5 →
    * 8.0 s at sf0.1) is the price of cross-engine checkability — the
    * `family` parameter selects "xxhash64" for deployments that trust
    * the in-suite superset/FPR gates instead (CurationSpec runs the
    * gates against BOTH families; the declared q123 ships md5, which
    * is what the oracle checks). */
  private def bloomPositionsSql(sym: String, mBits: Int, h: Int,
      family: String = "md5"): String = family match {
    case "md5" =>
      val h1 = s"CAST(conv(substring(md5($sym), 1, 14), 16, 10) AS BIGINT)"
      val h2 = s"(CAST(conv(substring(md5($sym), 15, 14), 16, 10) AS BIGINT) * 2 + 1)"
      s"transform(sequence(0, ${h - 1}), j -> ($h1 + j * $h2) % $mBits)"
    // the fast engine-internal family (xxhash64 + murmur3): ~3x cheaper
    // per probe on the corpus scan, NOT reproducible by DuckDB -- for
    // deployments that trust the in-suite superset/FPR gates over
    // cross-engine checkability. pmod because these hashes go negative.
    case "xxhash64" =>
      s"transform(sequence(0, ${h - 1}), j -> " +
        s"pmod(xxhash64($sym) + j * CAST(hash($sym) AS BIGINT), $mBits))"
    case other => throw new IllegalArgumentException(
      s"unknown bloom hash family '$other' (expected md5|xxhash64)")
  }

  /** One-row relation (bits: array<bigint>, mBits/64 words) holding the
    * Bloom filter of the `sh` column. Fully distributed and mergeable:
    * per-partition partial bit_or aggregation, a word-indexed sparse
    * frame bounded by mBits/64 rows, then one dense assembly. */
  def shingleBloom(shingles: DataFrame, mBits: Int = 1 << 17, h: Int = 5,
      family: String = "md5"): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val nWords = mBits / 64
    shingles
      .select(explode(expr(bloomPositionsSql("sh", mBits, h, family))).as("p"))
      .select(expr("CAST(p div 64 AS INT)").as("wi"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("mask"))
      .groupBy("wi").agg(expr("bit_or(mask)").as("word"))
      .agg(map_from_arrays(collect_list(col("wi")), collect_list(col("word")))
        .as("m"))
      .select(expr(
        s"transform(sequence(0, ${nWords - 1}), i -> coalesce(element_at(m, i), CAST(0 AS BIGINT)))")
        .as("bits"))
  }

  /** Benchmark decontamination against a broadcast Bloom filter of the
    * bench shingle set — the 100 TB face of q74. The exact scan
    * shuffles corpus shingles into a join; this face probes each doc's
    * shingles IN-ROW against a one-row broadcast bit array, so the
    * corpus never shuffles at all (the only exchanges build the
    * bench-sized filter). One-sided error: every truly-shared shingle
    * probes positive (no false negatives — the flag is a guaranteed
    * superset of q74's), and false positives are bounded by the load
    * factor ((1-e^{-hn/m})^h ≈ 4e-8 at the test scale; CurationSpec
    * measures it). Unlike q74, a bench doc counts its own shingles (the
    * filter carries no doc identity) — the upper-bound semantics.
    *
    * Output: (doc_id, n_shingles, n_maybe, contamination_ub,
    * contaminated_ub) for docs with ≥ n tokens. */
  def bloomDecontaminationScan(docs: DataFrame, benchIds: DataFrame,
      n: Int = 8, mBits: Int = 1 << 17, h: Int = 5,
      family: String = "md5"): DataFrame = {
    val bits = shingleBloom(
      benchShingleSet(docs, benchIds, n).select(col("b_sh").as("sh")), mBits, h,
      family)
    val parts = (0 until n).map(j => s"ws[i+$j]").mkString(", ")
    // Hash each shingle ONCE and carry the (h1, h2) pair as longs through
    // the probe loop — the naive form re-evaluates the digest inside
    // every (j, half) lambda (10 md5 calls per shingle at h=5; HOF lambda
    // bodies get no subexpression elimination). Same Kirsch–Mitzenmacher
    // arithmetic per family, values identical — the oracle re-verifies.
    val hashPairs = family match {
      case "md5" =>
        // inner transform binds the hex digest; outer derives both halves
        """transform(transform(shs, s0 -> md5(s0)), m -> named_struct(
          |  'h1', CAST(conv(substring(m, 1, 14), 16, 10) AS BIGINT),
          |  'h2', CAST(conv(substring(m, 15, 14), 16, 10) AS BIGINT) * 2 + 1))"""
          .stripMargin
      case "xxhash64" =>
        """transform(shs, s0 -> named_struct('h1', xxhash64(s0),
          |  'h2', CAST(hash(s0) AS BIGINT)))""".stripMargin
      case other => throw new IllegalArgumentException(
        s"unknown bloom hash family '$other' (expected md5|xxhash64)")
    }
    // md5 halves are non-negative (56-bit conv), so % keeps the oracle's
    // spelling; the engine-internal hashes go negative, hence pmod
    val posE = family match {
      case "md5" => s"(s.h1 + j * s.h2) % $mBits"
      case _ => s"pmod(s.h1 + j * s.h2, $mBits)"
    }
    val probe =
      s"""size(filter($hashPairs, s -> forall(sequence(0, ${h - 1}),
         |  j -> (shiftright(element_at(bits, CAST($posE div 64 AS INT) + 1),
         |        CAST($posE % 64 AS INT)) & CAST(1 AS BIGINT)) = 1)))""".stripMargin
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), array_distinct(expr(
        s"transform(sequence(0, size(ws)-$n), i -> concat_ws(' ', $parts))"))
        .as("shs"))
      .crossJoin(broadcast(bits))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"),
        expr(probe).cast("long").as("n_maybe"))
      .select(col("doc_id"), col("n_shingles"), col("n_maybe"),
        round(col("n_maybe").cast("double") / col("n_shingles"), 6)
          .as("contamination_ub"),
        (col("n_maybe") * 2 >= col("n_shingles")).as("contaminated_ub"))
  }
}
