package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact (content
  * hash), exact n-gram Jaccard (inverted-index join — the scalable form),
  * MinHash+LSH (shingle → minhash signature → banded bucket join), and
  * SimHash (hamming-ball near-dup).
  *
  * Scale design: nothing here cross-joins the corpus. Exact Jaccard uses a
  * shingle inverted index (explode → equi-join on shingle → count), which
  * shuffles by shingle — the same pattern that works at 100 TB because hot
  * shingles can be frequency-capped (see `maxShingleDocFreq`). MinHash/LSH
  * reduces each doc to a constant-size signature, and candidates come from
  * an equi-join on band keys, so the shuffle volume is O(docs × bands), not
  * O(docs²).
  */
object Dedup {

  /** Non-empty whitespace tokens — delegates to [[Text.words]], the
    * single tokenizer shared by every operator family. */
  private def words(c: Column): Column = Text.words(c)

  /** Distinct word 3-gram shingles per doc as an array column: (doc_id,
    * shs). 0-based `ws[i]` indexing in SQL exprs. */
  private def shingleArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), array_distinct(expr(
        "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
        .as("shs"))

  /** [[shingleArrays]] behind a Generate barrier: `explode(array(shs))`
    * re-emits each row once, and because Generate is not a Project,
    * neither CollapseProject nor filter alias-substitution can inline the
    * array-building expression into downstream consumers — the shingle
    * array COMPUTES EXACTLY ONCE per row no matter how many downstream
    * expressions reference it (without this, q78's n/p/generator
    * references each re-ran the build: measured 3× slower at sf0.1). */
  private def shingleArraysOnce(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"), explode(array(col("shs"))).as("shs"))

  /** Exploded form: (doc_id, sh), one row per distinct shingle.
    *
    * NOT `shingleArrays(...).select(explode(col("shs")))`: exploding a
    * bare column alias lets InferFiltersFromGenerate add a
    * `size(shs) > 0 AND isnotnull(shs)` filter, and alias substitution
    * then inlines the whole shingle-building expression into that filter
    * — the shingle computation runs 3× per row (measured 2.7× slower on
    * q51/q52 at sf0.1). A COMPLEX generator child dodges the rule, so the
    * array expression stays inline in the Generate. */
  private[operators] def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")))
        .as("sh"))

  /** Hashed-identity shingle stream: (doc_id, sh LONG) with sh =
    * xxhash64 chained over the 3-gram's words — no shingle STRING is ever
    * materialized (guide §2.3 narrower types / §1.2 per-task work). For
    * identity-only consumers ([[rawJaccardPairFrame]]: the shingle is
    * only a join/count key, results carry doc ids and counts), this
    * removes the per-position concat_ws allocation + string
    * array_distinct that dominated the shingle stage (25.3 s of task CPU
    * at sf0.1, JobProfile r17) and shuffles 8-byte longs instead of
    * 20-40-byte strings. Collision exposure is UNCHANGED: the pair frame
    * already keyed on xxhash64 of the shingle string (r12), so distinct
    * 3-grams colliding at 64 bits merged there too; chaining over words
    * instead of hashing the joined string only changes WHICH hash
    * function instance keys the index. NOT usable for minhash/simhash
    * faces — their signatures are defined over the shingle strings. */
  private def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(ws)-3), i -> xxhash64(ws[i], ws[i+1], ws[i+2]))")))
        .as("sh"))

  /** Drop shingles appearing in more than this many docs before the pair
    * join — the skew guard that keeps the inverted-index join bounded on a
    * real corpus (a stopword-only shingle would otherwise create a
    * quadratic hot key). The testdata vocabulary is tiny, so the cap is
    * high enough to be a no-op there. */
  private[operators] val maxShingleDocFreq = 1000000

  /** Default cap on (band, key) bucket size for the MinHash/SimHash banded
    * self-joins — the LSH analogue of [[maxShingleDocFreq]]. One degenerate
    * band key (near-constant sketches from boilerplate-heavy docs) turns
    * the candidate self-join quadratic: a 100k-doc bucket is 5×10⁹ pairs.
    * AQE skew handling splits the *shuffle*, not the pair count, so the
    * bucket must be dropped before the join. Dropping a giant bucket is
    * semantically safe for NEAR-dup detection: docs that collide at that
    * scale are boilerplate/identical, which exact dedup (q50) catches
    * first. No-op at testdata scale (500 docs < cap). */
  private[graft] val defaultLshBucketCap = 10000

  /** Bucket keys whose combined row count across `sides` EXCEEDS `cap` —
    * the drop-list for the skew guard. By pigeonhole it has at most
    * n/cap keys (n/10⁴ at the default), so it broadcasts; the guarded
    * sides anti-join against it with no shuffle of their own. Counting
    * over the union of sides is what makes the incremental new-vs-corpus
    * paths drop EXACTLY the buckets the self-join over the union drops
    * (capping each side alone would keep a bucket whose halves are both
    * under cap while their join still blows up quadratically). */
  private[operators] def overCapBuckets(sides: Seq[DataFrame], keyCols: Seq[String],
      cap: Int): DataFrame =
    sides.map(_.select(keyCols.map(col): _*)).reduce(_ union _)
      .groupBy(keyCols.head, keyCols.tail: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .drop("bucket_n")

  /** Keep only rows whose (bucket-key columns) group is within `cap` —
    * shared skew guard for the banded self-joins below. Broadcast
    * anti-join against the (tiny) over-cap set: the old form equi-joined
    * every banded row with the full under-cap key list, which shuffled
    * the whole banded frame a second time — measured as most of q52's r7
    * regression. */
  private def capBuckets(rows: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    rows.join(broadcast(overCapBuckets(Seq(rows), keyCols, cap)), keyCols, "left_anti")

  /** Shared oracle for q51/q78 — both compute the identical exact result,
    * so both hash-match the same SQL. */
  private val jaccardPairsOracleSql =
    """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
      |       FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2)
      |SELECT d1, d2, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
      |FROM com JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6
      |ORDER BY d1, d2""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ---- exact dedup by content hash (reference's UNIQUE(source_url,
    //      sha256) idempotency key, storage/db.py:28) ----
    "q50_exact_dedup" -> QueryDef.sql(
      """SELECT sha256(text) AS content_key, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_key""") { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(sha2(col("text"), 256).as("content_key"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("content_key")
    },

    // ---- exact n-gram Jaccard near-dup pairs via shingle inverted index ----
    "q51_ngram_jaccard_pairs" -> QueryDef.sql(jaccardPairsOracleSql) { (s, dir) =>
      // documentsSpread: the shingle explode+xxhash64 build is fused into
      // the single-split scan (measured 2.76 → 2.20 s at sf0.1)
      exactJaccardPairs(Tables.documentsSpread(s, dir), threshold = 0.6)
        .orderBy("d1", "d2")
    },

    // ---- same contract, prefix-filtered (PPJoin-style): EXACT result,
    //      so it shares q51's oracle and must hash-match it — only the
    //      candidate-generation cost differs (in-row hash-ordered prefix +
    //      array-intersect verify; "df" order available for candidate-
    //      minimal behavior on boilerplate-heavy corpora) ----
    "q78_jaccard_prefix_filter" -> QueryDef.sql(jaccardPairsOracleSql) { (s, dir) =>
      // documentsSpread: the shingle-array build + in-row prefix sort are
      // fused into the single-split scan (two ~0.5 s one-task jobs)
      prefixJaccardPairs(Tables.documentsSpread(s, dir), threshold = 0.6)
        .orderBy("d1", "d2")
    },

    // ---- duplicate clusters: connected components over the near-dup pair
    //      graph (keep-one-per-cluster is what a dedup pipeline actually
    //      ships). Spark side: iterative min-label propagation (converges
    //      in O(graph diameter) joins); oracle: recursive CTE transitive
    //      closure — same fixpoint, declarative form. ----
    "q62_dup_clusters" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges)
        |SELECT m.doc_id,
        |  least(m.doc_id, min(r.b)) AS cluster_id,
        |  m.doc_id = least(m.doc_id, min(r.b)) AS is_keeper
        |FROM members m JOIN reach r ON r.a = m.doc_id
        |GROUP BY m.doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      duplicateClusters(exactJaccardPairs(Tables.documentsSpread(s, dir), 0.6))
        .orderBy("doc_id")
    },

    // ---- containment pairs: subset duplicates in threshold-Jaccard's
    //      structural blind spot, with the contained side named. ----
    "q192_containment_pairs" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT d1, d2, ca.n AS n1, cb.n AS n2, c,
        |  round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard,
        |  round(CAST(c AS DOUBLE) / least(ca.n, cb.n), 6) AS containment,
        |  CASE WHEN ca.n <= cb.n THEN d1 ELSE d2 END AS contained_doc
        |FROM com
        |JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |WHERE CAST(c AS DOUBLE) / least(ca.n, cb.n) >= 0.9
        |  AND CAST(c AS DOUBLE) / (ca.n + cb.n - c) < 0.6
        |ORDER BY d1, d2""") { (s, dir) =>
      containmentPairs(Tables.documents(s, dir))
    },

    // ---- MinHash error audit, ORACLE-CHECKED: estimated vs exact
    //      Jaccard over the LSH face's surfaced pairs. The declared face
    //      estimates through the md5 Kirsch–Mitzenmacher lanes (the q52
    //      family), so DuckDB replays BOTH sides — the banded candidate
    //      generation + lane-agreement estimates AND the exact floor-0.01
    //      pair set — and the whole error distribution is verified
    //      relationally. The xxhash64 production audit stays available
    //      via [[minhashErrorAudit]], in-suite gated. ----
    "q189_minhash_error_audit" -> QueryDef.sql(minhashErrorAuditOracleSql) { (s, dir) =>
      minhashErrorAuditMd5(Tables.documentsSpread(s, dir))
    },

    // ---- near-dup explanation: the rarest shared shingles per flagged
    //      pair, as review evidence. ----
    "q186_neardup_explanation" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2,
        |            round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
        |          FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
        |shared AS (SELECT p.d1, p.d2, a.sh, dfq.df
        |           FROM pairs p
        |           JOIN sh a ON a.doc_id = p.d1
        |           JOIN sh b ON b.doc_id = p.d2 AND b.sh = a.sh
        |           JOIN dfq ON dfq.sh = a.sh),
        |top AS (SELECT d1, d2, sh, rn FROM (
        |          SELECT *, row_number() OVER (PARTITION BY d1, d2
        |            ORDER BY df, sh) AS rn FROM shared)
        |        WHERE rn <= 3),
        |ev AS (SELECT d1, d2, string_agg(sh, ' | ' ORDER BY rn) AS evidence
        |       FROM top GROUP BY 1, 2)
        |SELECT pairs.d1, pairs.d2, jaccard, evidence
        |FROM pairs JOIN ev ON ev.d1 = pairs.d1 AND ev.d2 = pairs.d2
        |ORDER BY pairs.d1, pairs.d2""") { (s, dir) =>
      nearDupExplanation(Tables.documentsSpread(s, dir))
    },

    // ---- dedup threshold sweep: pair/affected-doc counts per ladder
    //      rung from one floor-threshold pair materialization. ----
    "q177_threshold_sweep" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2,
        |            round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
        |          FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.05),
        |lad AS (SELECT unnest([0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
        |pc AS (SELECT threshold, count(*) AS n_pairs
        |       FROM lad JOIN pairs ON jaccard >= threshold GROUP BY 1),
        |dm AS (SELECT doc_id, max(jaccard) AS mx FROM (
        |         SELECT d1 AS doc_id, jaccard FROM pairs
        |         UNION ALL SELECT d2, jaccard FROM pairs) GROUP BY 1),
        |dc AS (SELECT threshold, count(*) AS n_docs
        |       FROM lad JOIN dm ON mx >= threshold GROUP BY 1)
        |SELECT threshold, coalesce(n_pairs, 0) AS n_pairs,
        |  coalesce(n_docs, 0) AS n_docs
        |FROM lad LEFT JOIN pc USING (threshold) LEFT JOIN dc USING (threshold)
        |ORDER BY threshold""") { (s, dir) =>
      thresholdSweep(Tables.documentsSpread(s, dir))
    },

    // ---- exact substring duplication audit (q210): Lee et al. 2021's
    //      ExactSubstr signal as a distributed window join; the declared
    //      face shuffles window text (oracle-exact), the byHash face is
    //      the 8-bytes-per-position production shape (suite-pinned). ----
    "q210_exact_substring_dup" -> QueryDef.sql(
      """WITH pos AS (SELECT doc_id, unnest(range(1, length(text) - 38)) AS i, text
        |             FROM documents WHERE length(text) >= 40),
        |w AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 40) AS w FROM pos),
        |d AS (SELECT w, min(doc_id) AS mn, max(doc_id) AS mx FROM w GROUP BY w)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(CASE WHEN d.mn <> d.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  CAST(sum(CASE WHEN d.mn <> d.mx THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // count(*) AS dup_ppm
        |FROM w JOIN d USING (w)
        |GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      exactSubstringDup(Tables.documentsSpread(s, dir))
    },

    // ---- substring-dup character coverage (q212): the interval-union
    //      refinement of q210 — characters inside ≥1 duplicated window,
    //      exact via the sorted-positions lead() identity. ----
    "q212_substring_dup_coverage" -> QueryDef.sql(
      """WITH pos AS (SELECT doc_id, unnest(range(0, length(text) - 39)) AS i, text
        |             FROM documents WHERE length(text) >= 40),
        |w AS (SELECT doc_id, i, substr(text, CAST(i + 1 AS INTEGER), 40) AS w FROM pos),
        |d AS (SELECT w FROM (SELECT w, min(doc_id) AS mn, max(doc_id) AS mx
        |                     FROM w GROUP BY w) WHERE mn <> mx),
        |dup AS (SELECT doc_id, i FROM w JOIN d USING (w)),
        |cov AS (SELECT doc_id,
        |          least(coalesce(lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 40), 40) AS c
        |        FROM dup),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_dup_chars FROM cov GROUP BY doc_id)
        |SELECT dd.doc_id, CAST(length(dd.text) AS BIGINT) AS n_chars,
        |  coalesce(a.n_dup_chars, 0) AS n_dup_chars,
        |  coalesce(a.n_dup_chars, 0) * 1000000 // CAST(length(dd.text) AS BIGINT) AS dup_char_ppm
        |FROM documents dd LEFT JOIN agg a USING (doc_id)
        |WHERE length(dd.text) >= 40
        |ORDER BY doc_id""") { (s, dir) =>
      substringDupCoverage(Tables.documentsSpread(s, dir))
    },

    // ---- exact substring dedup APPLY (q214): strip every character
    //      covered by a cut window (duplicated + not the min-doc
    //      canonical copy); the oracle reconstructs the kept text
    //      per-character — deliberately naive, no shared shortcut. ----
    "q214_substring_dedup_apply" -> QueryDef.sql(
      """WITH pos AS (SELECT doc_id, unnest(range(0, length(text) - 39)) AS i, text
        |             FROM documents WHERE length(text) >= 40),
        |w AS (SELECT doc_id, i, substr(text, CAST(i + 1 AS INTEGER), 40) AS w FROM pos),
        |d AS (SELECT w, min(doc_id) AS mn FROM w GROUP BY w HAVING min(doc_id) <> max(doc_id)),
        |cut AS (SELECT doc_id, i FROM w JOIN d USING (w) WHERE doc_id <> d.mn),
        |chars AS (SELECT doc_id, unnest(range(1, length(text) + 1)) AS j, text
        |          FROM documents WHERE length(text) >= 40),
        |cov AS (SELECT DISTINCT ch.doc_id, ch.j
        |        FROM chars ch JOIN cut c ON ch.doc_id = c.doc_id AND ch.j BETWEEN c.i + 1 AND c.i + 40),
        |kept AS (SELECT ch.doc_id,
        |           coalesce(string_agg(substr(ch.text, CAST(ch.j AS INTEGER), 1), '' ORDER BY ch.j), '') AS text_dedup
        |         FROM chars ch LEFT JOIN cov ON ch.doc_id = cov.doc_id AND ch.j = cov.j
        |         WHERE cov.j IS NULL GROUP BY ch.doc_id)
        |SELECT dd.doc_id, CAST(length(dd.text) AS BIGINT) AS n_chars,
        |  coalesce(k.text_dedup, '') AS text_dedup,
        |  CAST(length(dd.text) - length(coalesce(k.text_dedup, '')) AS BIGINT) AS n_removed
        |FROM documents dd LEFT JOIN kept k USING (doc_id)
        |WHERE length(dd.text) >= 40
        |ORDER BY doc_id""") { (s, dir) =>
      substringDedupApply(Tables.documentsSpread(s, dir))
    },

    // ---- LSH parameter planner (q216): expected FN/FP pair counts per
    //      (bands, rows) factorization against the OBSERVED similarity
    //      distribution; the collision-prob arithmetic and the S-curve
    //      midpoints are generated from one Scala builder into BOTH
    //      faces (the q168/q178 pattern), in DECIMAL over an INTEGER
    //      micro-Jaccard bucket key, so neither libm pow nor any float
    //      round-tie is ever consulted. ----
    "q216_lsh_parameter_plan" -> QueryDef.sql({
      val cfgSelects = lshConfigs(16).map { case (b, r) =>
        s"SELECT $b AS b, $r AS r, ${sCurveMidpointSql(b, r)} AS s_half, " +
          s"j6, n, ${collisionProbSql(b, r)} AS p FROM hist"
      }.mkString("\n        |      UNION ALL ").stripMargin
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
         |           FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
         |       FROM w WHERE len(ws) >= 3),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
         |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |raw AS (SELECT ca.n AS n1, cb.n AS n2, c
         |        FROM com
         |        JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2),
         |pairs AS (SELECT ${microJaccardSql("//")} AS j6 FROM raw),
         |hist AS (SELECT j6, count(*) AS n FROM pairs WHERE j6 >= 50000 GROUP BY 1),
         |per AS ($cfgSelects)
         |SELECT b, r, s_half,
         |  CAST(coalesce(sum(CASE WHEN j6 >= 600000 THEN n END), 0) AS BIGINT) AS n_true,
         |  CAST(coalesce(sum(CASE WHEN j6 >= 600000 THEN CAST(n AS DECIMAL(14,0)) * (1 - p) END), 0) AS DOUBLE) AS exp_fn,
         |  CAST(coalesce(sum(CASE WHEN j6 < 600000 THEN CAST(n AS DECIMAL(14,0)) * p END), 0) AS DOUBLE) AS exp_fp
         |FROM per GROUP BY 1, 2, 3 ORDER BY b"""
    }) { (s, dir) =>
      lshParameterPlan(Tables.documentsSpread(s, dir))
    },

    // ---- duplication-structure audit: component-size histogram of the
    //      q62 near-dup graph, singletons included — same recursive-CTE
    //      oracle with a histogram on top. ----
    "q170_component_size_histogram" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |clu AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |        FROM members m JOIN reach r ON r.a = m.doc_id GROUP BY m.doc_id),
        |sizes AS (SELECT cluster_id, count(*) AS size FROM clu GROUP BY 1),
        |hist AS (SELECT size, count(*) AS n_components,
        |           CAST(size * count(*) AS BIGINT) AS n_docs
        |         FROM sizes GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |mem AS (SELECT coalesce(CAST(sum(n_docs) AS BIGINT), 0) AS n_members FROM hist),
        |full_hist AS (
        |  SELECT * FROM hist
        |  UNION ALL
        |  SELECT 1 AS size, n_total - n_members, n_total - n_members
        |  FROM tot CROSS JOIN mem)
        |SELECT size, n_components, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / n_total, 6) AS corpus_share
        |FROM full_hist CROSS JOIN tot
        |WHERE n_components > 0
        |ORDER BY size""") { (s, dir) =>
      // documentsSpread (r17): same single-task 12 MB exchange as q106
      val docs = Tables.documentsSpread(s, dir)
      componentSizeHistogram(docs,
        duplicateClusters(exactJaccardPairs(docs, 0.6)))
    },

    // ---- APPLY the dedup: the kept corpus after dropping every
    //      non-keeper cluster member — the materialization step a dedup
    //      pipeline actually ships (detect → cluster → apply). Unhinted
    //      anti-join: AQE broadcasts the dropped set when it is small and
    //      shuffles both sides when a crawl-scale dup rate makes it huge
    //      (see dedupApply's scaladoc). ----
    "q91_dedup_apply" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |labels AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |           FROM members m JOIN reach r ON r.a = m.doc_id
        |           GROUP BY m.doc_id),
        |dropped AS (SELECT doc_id FROM labels WHERE doc_id != cluster_id)
        |SELECT d.doc_id, d.source, length(d.text) AS n_chars
        |FROM documents d LEFT JOIN dropped x USING (doc_id)
        |WHERE x.doc_id IS NULL
        |ORDER BY d.doc_id""") { (s, dir) =>
      val docs = Tables.documents(s, dir)
      dedupApply(docs, duplicateClusters(exactJaccardPairs(docs, 0.6)))
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- cluster-aware train/valid/test split: near-dup cluster members
    //      must land in the SAME split, or held-out examples leak into
    //      training through their near-duplicates — the contamination bug
    //      near-dup detection exists to prevent. Split assignment hashes
    //      the GROUP key (cluster id, or the doc's own id when
    //      unclustered) through md5 and buckets the two leading hex chars
    //      lexicographically (~90/5/5) — deterministic on any engine with
    //      md5, no RNG to coordinate across workers or runs. ----
    "q93_cluster_split" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |labels AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |           FROM members m JOIN reach r ON r.a = m.doc_id
        |           GROUP BY m.doc_id),
        |g AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
        |      FROM documents d LEFT JOIN labels l USING (doc_id))
        |SELECT doc_id, group_id,
        |  CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'f3' THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM g ORDER BY doc_id""") { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      clusterSplit(docs, duplicateClusters(exactJaccardPairs(docs, 0.6)))
        .orderBy("doc_id")
    },

    // ---- duplicate clusters via large-star/small-star (Kiveris et al.) —
    //      same contract and same recursive-CTE oracle as q62, but the
    //      O(log n)-round algorithm instead of O(diameter) label
    //      propagation: both paths are oracle-checked ----
    "q67_dup_clusters_star" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges)
        |SELECT m.doc_id,
        |  least(m.doc_id, min(r.b)) AS cluster_id,
        |  m.doc_id = least(m.doc_id, min(r.b)) AS is_keeper
        |FROM members m JOIN reach r ON r.a = m.doc_id
        |GROUP BY m.doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      connectedComponentsStar(exactJaccardPairs(Tables.documentsSpread(s, dir), 0.6))
        .orderBy("doc_id")
    },

    // ---- quality-aware dedup apply: keep each near-dup cluster's BEST
    //      member (q41 quality, tie → lowest doc_id) instead of q91's
    //      min-id keeper — the form production dedup actually wants
    //      ("of these 5 near-copies, keep the cleanest"). Unclustered
    //      docs are their own singleton group and always survive.
    //      Aggregation is max(struct(quality, -doc_id)) — a map-side-
    //      combined argmax, no per-group window sort. ----
    "q106_dedup_keep_best" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |labels AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |           FROM members m JOIN reach r ON r.a = m.doc_id
        |           GROUP BY m.doc_id),
        |g AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
        |      FROM documents d LEFT JOIN labels l USING (doc_id)),
        |f AS (
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
        |          * (0.5 + 0.5 * least(CAST(n_stop AS DOUBLE) / nullif(n_words, 0) * 5.0, 1.0)), 6) AS quality
        |  FROM f),
        |r AS (SELECT g.doc_id, g.group_id, q.quality,
        |        row_number() OVER (PARTITION BY group_id
        |          ORDER BY coalesce(quality, -1.0) DESC, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY group_id) AS n_members
        |      FROM g JOIN q USING (doc_id))
        |SELECT doc_id, group_id, n_members, quality
        |FROM r WHERE rn = 1 ORDER BY doc_id""") { (s, dir) =>
      // documentsSpread (r17): the checkpointed shingle frame inherited
      // the one-split scan's single partition — its self-join exchange
      // ran as one 0.96 s task writing 12 MB (JobProfile)
      val docs = Tables.documentsSpread(s, dir)
      dedupKeepBest(docs, duplicateClusters(exactJaccardPairs(docs, 0.6)))
        .orderBy("doc_id")
    },

    // ---- MinHash + LSH candidate pairs, ORACLE-CHECKED: the declared
    //      face runs the per-lane-salted md5 family (engine-agnostic
    //      hashes DuckDB reproduces lane for lane — see
    //      [[minhashSignaturesMd5From]] for why NOT r12's K-M lanes),
    //      so banding, the bucket cap, and the lane-agreement estimate
    //      are all verified relationally; the xxhash64 UDAF family
    //      remains the production default, recall-gated in DedupSpec
    //      alongside this one. ----
    "q52_minhash_lsh_pairs" -> QueryDef.sql(
      s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |${md5SigCtesSql(16)},
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
        |          GROUP BY 1, 2)
        |SELECT d1, d2, CAST(eq AS DOUBLE) / 16 AS est_jaccard
        |FROM agree ORDER BY d1, d2""") { (s, dir) =>
      // documentsSpread: the per-lane-salted md5 signature fold is fused
      // into the scan stage; a single-split corpus pinned it to one task
      // (measured 2.77 → 1.40 s at sf0.1, r16 opt round)
      minhashLshPairsMd5(Tables.documentsSpread(s, dir), numHashes = 16, bands = 4)
        .orderBy("d1", "d2")
    },

    // ---- SimHash near-dup pairs, ORACLE-CHECKED: md5-nibble bit family
    //      (bit k of a word's sketch = bit k%4 of md5 hex nibble k/4 —
    //      DuckDB computes identical bits), votes, block-combination
    //      banding (8 blocks × C(8,2) keys), bucket cap, and the hamming
    //      cut all verified relationally; the native graft_simhash64
    //      xxhash64 family stays the production default, recall-gated in
    //      DedupSpec. ----
    "q53_simhash_pairs" -> QueryDef.sql(simhashMd5OracleSql(6)) { (s, dir) =>
      simhashPairsFromSketches(simhashSketchMd5(Tables.documents(s, dir)),
          maxHamming = 6)
        .select(col("d1"), col("d2"), col("hamming").cast("long").as("hamming"))
        .orderBy("d1", "d2")
    },

    // ---- hard-negative contrastive triples (DPR/SimCSE-style mining):
    //      for every near-dup cluster member, emit (anchor, positive =
    //      smallest co-cluster member, hard negative = the most
    //      lexically-similar doc OUTSIDE the cluster). The training-pair
    //      generation step an embedding-model pipeline runs over the
    //      curated corpus — easy negatives are useless, and the hardest
    //      ones are exactly the near-misses the dedup index already
    //      surfaces. ----
    "q118_contrastive_pairs" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |clus AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |         FROM members m JOIN reach r ON r.a = m.doc_id GROUP BY m.doc_id),
        |pos AS (SELECT x.doc_id AS anchor_id, min(y.doc_id) AS positive_id
        |        FROM clus x JOIN clus y ON x.cluster_id = y.cluster_id AND x.doc_id != y.doc_id
        |        GROUP BY 1),
        |com2 AS (SELECT d1 AS a, d2 AS b, c FROM com UNION ALL SELECT d2, d1, c FROM com),
        |cand AS (SELECT c2.a AS anchor_id, c2.b AS cand_id, c2.c
        |         FROM com2 c2 JOIN clus x ON x.doc_id = c2.a
        |         LEFT JOIN clus y ON y.doc_id = c2.b
        |         WHERE y.doc_id IS NULL OR y.cluster_id != x.cluster_id),
        |neg AS (SELECT anchor_id, cand_id, c,
        |          row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, cand_id) AS rn
        |        FROM cand)
        |SELECT p.anchor_id, p.positive_id, n.cand_id AS negative_id, n.c AS n_shared_neg
        |FROM pos p LEFT JOIN (SELECT anchor_id, cand_id, c FROM neg WHERE rn = 1) n USING (anchor_id)
        |ORDER BY anchor_id""") { (s, dir) =>
      contrastivePairs(Tables.documents(s, dir), threshold = 0.6)
        .orderBy("anchor_id")
    },

    // ---- weighted PageRank over the near-dup graph: link-analysis
    //      centrality as a curation signal (hub/canonical detection) —
    //      5 float iterations, still oracle-exact via the decimal
    //      rounding discipline and an unrolled per-round CTE oracle. ----
    "q130_pagerank" -> QueryDef.sql(
      pageRankOracleSql(threshold = 0.3, damping = 0.85, iters = 5)) { (s, dir) =>
      val docs = Tables.documentsSpread(s, dir)
      pageRank(docs, exactJaccardPairs(docs, threshold = 0.3),
        damping = 0.85, iters = 5)
        .orderBy("doc_id")
    },

    // ---- split-leakage audit: proves q93's guarantee as data —
    //      clustered pairs cross splits exactly zero times; weak pairs
    //      cross at the background rate the fractions imply. ----
    "q147_split_leakage" -> QueryDef.sql(
      """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |jp AS (SELECT d1, d2, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jac
        |       FROM com JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |       WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.02),
        |pairs AS (SELECT d1, d2 FROM jp WHERE jac >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS doc_id FROM edges),
        |labels AS (SELECT m.doc_id, least(m.doc_id, min(r.b)) AS cluster_id
        |           FROM members m JOIN reach r ON r.a = m.doc_id
        |           GROUP BY m.doc_id),
        |g AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_id
        |      FROM documents d LEFT JOIN labels l USING (doc_id)),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |              WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 2) < 'f3' THEN 'valid'
        |              ELSE 'test' END AS split
        |       FROM g),
        |aud AS (SELECT CASE WHEN jac >= 0.6 THEN 'clustered' ELSE 'weak' END AS band,
        |          s1.split != s2.split AS cross_split
        |        FROM jp JOIN sp s1 ON s1.doc_id = jp.d1 JOIN sp s2 ON s2.doc_id = jp.d2)
        |SELECT band, cross_split, count(*) AS n_pairs
        |FROM aud GROUP BY 1, 2 ORDER BY band, cross_split""") { (s, dir) =>
      splitLeakageAudit(Tables.documentsSpread(s, dir))
    },

    // ---- per-source unique-data accounting under global exact dedup:
    //      the datasheet metric for marginal source value. ----
    "q146_unique_accounting" -> QueryDef.sql(
      """WITH b AS (SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text),' '), x -> x != '')) AS nt,
        |    md5(text) AS h
        |  FROM documents),
        |k AS (SELECT h, min(doc_id) AS keep_id FROM b GROUP BY 1),
        |f AS (SELECT source, nt, b.doc_id = k.keep_id AS kept
        |      FROM b JOIN k USING (h)),
        |g AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(nt) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_unique,
        |        CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT) AS n_tokens_unique
        |      FROM f GROUP BY 1)
        |SELECT source, n_docs, n_docs_unique, n_tokens, n_tokens_unique,
        |  round(1.0 - CAST(n_docs_unique AS DOUBLE) / n_docs, 6) AS doc_dup_rate,
        |  round(1.0 - CAST(n_tokens_unique AS DOUBLE) / nullif(n_tokens, 0), 6) AS token_dup_rate
        |FROM g ORDER BY source""") { (s, dir) =>
      uniqueTokenAccounting(Tables.documents(s, dir))
    },

    // ---- triangle counts + clustering coefficients over the near-dup
    //      graph: cohesion audit complementing q130's centrality —
    //      coefficient ≈ 1 marks a true duplicate clique, high degree at
    //      low coefficient marks template CHAINING (docs that bridge
    //      unrelated near-dup groups, exactly where transitive-closure
    //      dedup over-merges). Spark runs degree-ordered compact-forward
    //      enumeration; the oracle enumerates id-ordered — triangles are
    //      orientation-independent, so the faces must agree exactly. ----
    "q141_triangle_cohesion" -> QueryDef.sql(
      """WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM com
        |          JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
        |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.3),
        |deg AS (SELECT v, count(*) AS deg FROM (
        |          SELECT d1 AS v FROM pairs UNION ALL SELECT d2 FROM pairs) GROUP BY 1),
        |tri AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        |        FROM pairs e1 JOIN pairs e2 ON e1.d2 = e2.d1
        |        JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
        |pn AS (SELECT v, count(*) AS triangles FROM (
        |         SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT deg.v AS doc_id, deg.deg, coalesce(pn.triangles, 0) AS triangles,
        |  CASE WHEN deg.deg >= 2 THEN
        |    round(2.0 * coalesce(pn.triangles, 0) / (deg.deg * (deg.deg - 1)), 6)
        |  END AS clustering_coeff
        |FROM deg LEFT JOIN pn ON pn.v = deg.v
        |ORDER BY doc_id""") { (s, dir) =>
      triangleCohesion(Tables.documentsSpread(s, dir), threshold = 0.3)
        .orderBy("doc_id")
    }
  )

  /** Per-node triangle counts + local clustering coefficient over the
    * near-dup graph at `threshold` (see the q141 entry for semantics).
    *
    * Enumeration is DEGREE-ORDERED compact-forward (Latapy 2008): each
    * edge orients from its lower-(degree, id) endpoint, every triangle
    * then has exactly ONE node with two out-edges, and the wedge join's
    * per-node work is bounded by out-degree² ≤ O(m) total on any graph —
    * the orientation that keeps a power-law hub (a boilerplate template
    * shared by thousands of docs) from generating degree² wedge
    * candidates at a single reducer. The oracle's naive id-ordered
    * enumeration proves the orientation exact. */
  def triangleCohesion(docs: DataFrame, threshold: Double): DataFrame =
    triangleCohesionFromPairs(
      exactJaccardPairs(docs, threshold).select("d1", "d2"))

  /** [[triangleCohesion]] over a caller-supplied (d1, d2) edge relation
    * (d1 < d2, no duplicates) — the planted-graph spec entry point. */
  def triangleCohesionFromPairs(edgePairs: DataFrame): DataFrame = {
    val pairs = edgePairs
      .localCheckpoint(eager = false) // consumers: degrees + both orientations
    val deg = pairs.select(col("d1").as("v"))
      .unionAll(pairs.select(col("d2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false) // consumers: orientation join + output
    // orient each edge from its lower-(deg, id) endpoint; carry the head's
    // (deg, id) so the wedge join can order its two heads without a re-join
    val e = pairs
      .join(deg.select(col("v").as("d1"), col("deg").as("g1")), Seq("d1"))
      .join(deg.select(col("v").as("d2"), col("deg").as("g2")), Seq("d2"))
      .select(
        when(struct(col("g1"), col("d1")) < struct(col("g2"), col("d2")),
          struct(col("d1").as("u"), col("d2").as("v"), col("g2").as("gv")))
          .otherwise(struct(col("d2").as("u"), col("d1").as("v"), col("g1").as("gv")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"), col("o.gv").as("gv"))
      .localCheckpoint(eager = false) // consumers: two wedge legs + the close
    val x = e.select(col("u"), col("v").as("v1"), col("gv").as("gv1"))
    val y = e.select(col("u"), col("v").as("v2"), col("gv").as("gv2"))
    val wedges = x.join(y, Seq("u"))
      .filter(struct(col("gv1"), col("v1")) < struct(col("gv2"), col("v2")))
    // the closing edge is oriented v1 -> v2 ((deg,id) order is transitive)
    val tri = wedges.join(
      e.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6)).as("clustering_coeff"))
  }

  /** Split-leakage audit (q147): does q93's cluster-aware split actually
    * prevent near-duplicate leakage across train/valid/test? For every
    * similar pair, banded by strength — 'clustered' (≥ the split's own
    * cluster threshold) vs 'weak' (below it, above `weakThreshold`) —
    * count pairs whose endpoints landed in DIFFERENT splits. The
    * invariant under audit: clustered pairs cross-split EXACTLY zero
    * times (members inherit the cluster's split by construction); weak
    * pairs cross at the background rate the split fractions imply —
    * which is precisely the residual risk a leakage report must state.
    * A doc-id-hash split (no clustering) fails this audit; q93 passes
    * it — the query turns the guarantee into a checkable artifact.
    *
    * Scale shape: the pair frame is computed once at the WEAK threshold
    * behind a barrier; splits join onto both endpoints by doc_id; the
    * output is a ≤ 2×2-row matrix. */
  def splitLeakageAudit(docs: DataFrame, clusterThreshold: Double = 0.6,
      weakThreshold: Double = 0.02): DataFrame = {
    val pairs = exactJaccardPairs(docs, weakThreshold)
      .localCheckpoint(eager = false) // consumers: clusters + the audit join
    val strong = pairs.filter(col("jaccard") >= clusterThreshold)
    val split = clusterSplit(docs, duplicateClusters(strong))
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

  /** Per-source unique-data accounting under GLOBAL exact dedup (q146):
    * total vs surviving docs and token mass per source, with doc- and
    * token-level duplication rates — the datasheet answer to "how much
    * unique data do I actually have, and which sources are mostly
    * copies". Dedup is global (md5 content key, keep-min doc_id — the
    * q50 contract), so a source whose docs lose to earlier copies in
    * OTHER sources shows its true marginal contribution. One corpus
    * scan behind a barrier (two consumers: the keeper table + the
    * flagged join); shuffles carry 16-byte digests + counts, never
    * text. */
  def uniqueTokenAccounting(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
        size(Text.words(col("text"))).cast("long").as("nt"),
        md5(col("text")).as("h"))
      .localCheckpoint(eager = false)
    val keepers = base.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    val flagged = base.join(keepers, Seq("h"))
      .select(col("source"), col("nt"),
        (col("doc_id") === col("keep_id")).as("kept"))
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_docs_unique"),
        sum(when(col("kept"), col("nt")).otherwise(0L)).as("n_tokens_unique"))
      .select(col("source"), col("n_docs"), col("n_docs_unique"),
        col("n_tokens"), col("n_tokens_unique"),
        round(lit(1.0) - col("n_docs_unique").cast("double") / col("n_docs"), 6)
          .as("doc_dup_rate"),
        round(lit(1.0) - col("n_tokens_unique").cast("double")
          / nullif(col("n_tokens"), lit(0L)), 6).as("token_dup_rate"))
      .orderBy("source")
  }

  /** Exact word-3-gram Jaccard pairs >= threshold via the shingle inverted
    * index: explode → equi-join on shingle → count common → combine with
    * per-doc shingle counts. No cross join anywhere — the scalable form.
    *
    * The index carries xxhash64(shingle) — 8-byte shuffle/join keys
    * instead of ~25-byte text (the q92/q96 hash-space move). Counts, and
    * therefore jaccard values, are unchanged unless two of a corpus's
    * distinct shingles collide in 64 bits (~10⁻⁸ at test scale); a
    * collision would inflate an intersection count and fail the DuckDB
    * oracle, which computes on text. */
  def exactJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val j = col("c").cast("double") / (col("n1") + col("n2") - col("c"))
    rawJaccardPairFrame(docs)
      .filter(j >= threshold)
      .select(col("d1"), col("d2"), round(j, 6).as("jaccard"))
  }

  /** The RAW (d1, d2, n1, n2, c) co-occurrence frame behind
    * [[exactJaccardPairs]] (which is exactly this frame + threshold
    * filter + 6-dp round), with NO threshold and NO rounding applied —
    * also the q216 planner's input (its arithmetic needs the exact
    * rational c/(n1+n2−c), not the 6-dp double). ONE definition of the
    * pair machinery feeds both faces, so they cannot desynchronize.
    *
    * Materialize the capped shingle frame ONCE. Three consumers read it
    * (cnt, a, b); without a hard barrier the explode+join subtree executes
    * per consumer — r7's committed plan showed 6 document scans and zero
    * ReusedExchange, because AQE converted the self-join to broadcast and
    * replaced the repartition-for-reuse exchanges per-consumer, so
    * ReuseExchange never saw two identical nodes. A lazy localCheckpoint
    * computes the subtree exactly once (first action persists the blocks,
    * the other consumers read them back) and truncates the lineage to a
    * LogicalRDD, which AQE cannot re-expand — PlanSpec pins the final q51
    * plan at zero parquet re-scans. No repartition before the barrier:
    * the LogicalRDD reports UnknownPartitioning regardless, so a
    * pre-checkpoint shuffle by `sh` would be pure cost — consumers
    * shuffle the PERSISTED blocks (cnt by doc_id, the self-join by sh),
    * never the 3× recomputed explode. Same story at cluster scale:
    * blocks spill to executor disk rather than re-running a 100 TB
    * explode per consumer. */
  private[operators] def rawJaccardPairFrame(docs: DataFrame): DataFrame = {
    // hashed-identity shingles (see shingleHashes): the strings were
    // hashed away right here anyway, now they are never built at all.
    // (An explicit-count canonical exchange on sh was A/B'd here in r17
    // and REVERTED: AQE broadcasts the freq-cap list and keeps this join
    // map-side over the spread scan — the explicit exchange added 4.5 MB
    // of raw-row shuffle for no wall win.)
    val sh = shingleHashes(docs)
    val freqOk = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq).select("sh")
    val shF = sh.join(freqOk, "sh").localCheckpoint(eager = false)
    val cnt = shF.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = shF.as("a")
      .join(shF.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    common
      .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
      .select(col("d1"), col("d2"), col("ca.n").as("n1"),
        col("cb.n").as("n2"), col("c"))
  }

  /** Exact word-3-gram Jaccard pairs >= threshold with PREFIX FILTERING
    * (Chaudhuri et al., "A Primitive Operator for Similarity Joins", ICDE
    * 2006; Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW 2008). Same contract and byte-identical output as
    * [[exactJaccardPairs]] — only candidate generation differs:
    *
    * Under any GLOBAL total order on shingles, two docs with
    * |A∩B| >= ceil(t·max(|A|,|B|)) must collide within their first
    * |X| - ceil(t·|X|) + 1 shingles — so only that prefix is indexed for
    * the self-join. Ordering by ascending document frequency puts the
    * RAREST shingles in the prefix, which is what makes the filter
    * selective: the indexed volume drops by ~1/(1+t) per doc and hot
    * (stopword-ish) shingles fall out of the prefix entirely, shrinking
    * both shuffle volume and the worst hot-key bucket vs q51's full
    * inverted index. MEASURED (SCALING.md r11): on a
    * boilerplate-heavy corpus (35-word footer on 60% of docs,
    * sf0.1-sized) q51 takes 47.1 s, "hash" 11.9 s, "df" 3.18 s —
    * 14.8×/3.7×; on the natural corpus the three sit within ~25% and
    * "hash" wins by skipping the df pass, hence the default. Ship "df"
    * on template-heavy crawls. Candidates additionally pass the size-ratio
    * bound (t·|B| <= |A| <= |B|/t), then get verified with a true
    * intersection count over the full shingle sets — candidates only, so
    * the verify join is O(candidates × avg doc size), not O(index²).
    *
    * The ceil() guards subtract 1e-9 before ceiling: a threshold·n that
    * lands EXACTLY on an integer must not round up through FP error —
    * erring low lengthens the prefix (more candidates, still exact);
    * erring high would silently drop true pairs. */
  def prefixJaccardPairs(
      docs: DataFrame, threshold: Double, order: String = "hash"): DataFrame = {
    // barrier: four consumers read the shingle arrays (both prefix-join
    // sides via prefixIndex, then both verify-side attach joins) — without
    // it the tokenize+array_distinct build re-ran per consumer (the q51
    // failure mode; measured 5.1s → ~3s at sf0.1 from this line alone)
    val arr = shingleArraysOnce(docs).withColumn("n", size(col("shs")))
      .localCheckpoint(eager = false)
    // the prefix index keeps the repartition-for-reuse form: a barrier
    // here A/B'd 1.8× SLOWER (8.8s vs 4.8s at sf0.1) — off
    // UnknownPartitioning the candidate self-join shuffles the whole
    // index twice, where the canonical exchange is read twice in place.
    // EXPLICIT partition count (r16 opt round): without it AQE coalesced
    // this ~2 MB exchange to 2 partitions and the candidate join +
    // positional filter — CPU-bound, invisible to byte-based coalescing —
    // ran 2 tasks × ~0.95 s CPU each (measured; see computeParallelism)
    val prefix = prefixIndex(arr, threshold, order)
      .repartition(graft.Tables.computeParallelism(docs.sparkSession), col("sh"))
    // PPJoin positional filter: a pair with overlap o has its FIRST common
    // shingle (in the global order) at positions where everything common
    // lies at-or-after it in both lists, so o <= min(n1-pos1, n2-pos2)+1.
    // A true pair (o >= ceil(t·(n1+n2)/(1+t))) therefore always keeps its
    // first-common-element row; rows from matches deep in dissimilar
    // prefixes fail the bound and die BEFORE the distinct — this is what
    // keeps the candidate set near the true-pair count instead of the
    // shared-prefix-shingle count.
    val minOverlap = ceil((col("a.n") + col("b.n")) * lit(threshold / (1 + threshold)) - lit(1e-9))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") >= col("b.n") * lit(threshold) - lit(1e-9) &&
        col("b.n") >= col("a.n") * lit(threshold) - lit(1e-9) &&
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) + lit(1) >= minOverlap)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      // explicit-count repartition ahead of the dedup: the candidate rows
      // are a few MB but the verify that runs on them downstream is
      // seconds of CPU, so AQE's byte-based coalescing of the distinct's
      // own exchange serialized it onto 2 tasks (measured ~0.95 s CPU
      // each). Hash by (d1, d2) clusters the full dedup key's rows
      // identically (n1/n2 are functions of d1/d2), so the aggregate
      // reuses this exchange instead of adding one.
      .repartition(graft.Tables.computeParallelism(docs.sparkSession),
        col("d1"), col("d2"))
      .distinct()
    // verify candidates against the compact per-doc ARRAYS (two doc-keyed
    // joins + in-row intersection count) — never re-shuffles the exploded
    // shingle index, which is what made a shingle-level verify join cost
    // more than the prefix filter saved. graft_overlap_count is the
    // count-only native form of size(array_intersect(...)): one reused
    // hash set per pair instead of materializing the intersection array
    // just to take its size.
    graft.functions.TextExpressions.register(docs.sparkSession)
    val common = cand
      .join(arr.select(col("doc_id").as("d1"), col("shs").as("shs1")), "d1")
      .join(arr.select(col("doc_id").as("d2"), col("shs").as("shs2")), "d2")
      .withColumn("c", expr("graft_overlap_count(shs1, shs2)"))
    val j = col("c").cast("double") / (col("n1") + col("n2") - col("c"))
    common.filter(j >= threshold)
      .select(col("d1"), col("d2"), round(j, 6).as("jaccard"))
  }

  /** The indexed prefix per doc — positions 1..(n − ceil(t·n) + 1) of the
    * doc's shingles under a GLOBAL total order. Input: (doc_id, shs, n);
    * output: (doc_id, sh, n).
    *
    * - "hash" (default): order by (xxhash64(sh), sh) — computed entirely
    *   IN-ROW (sort + slice each doc's array; no df pass, no window, no
    *   shuffle before the candidate join). Prefix membership is
    *   hash-random, so a stopword shingle lands in only ~1/(1+t) of
    *   prefixes, but when it does it joins like any other key.
    * - "df": classic PPJoin order by ascending global document frequency
    *   (rarest first) — minimizes candidate pairs on boilerplate-heavy
    *   corpora (hot shingles sort LAST and fall out of every prefix), at
    *   the cost of a df aggregation plus a per-doc window over the
    *   exploded index. Worth it when candidate explosion, not scan cost,
    *   dominates. Both orders produce the identical exact result
    *   (DedupSpec pins both against [[exactJaccardPairs]]). */
  private def prefixIndex(arr: DataFrame, threshold: Double, order: String): DataFrame = {
    val prefixLen =
      (col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    order match {
      // both orders emit xxhash64(sh) as the join key — candidates join
      // on 8-byte longs, not shingle text. A collision only admits an
      // extra candidate pair (killed by the exact string verify) — with
      // one caveat shared with q51: the r17 rewrite sorts the HASHES as
      // a primitive long array instead of (hash, string) structs (the
      // interpreted struct comparator + per-element struct allocation
      // was most of the 19.9 s prefix-build task CPU at sf0.1,
      // JobProfile r17). Whenever the doc's hashes are collision-free
      // the order, prefix set and positions are IDENTICAL to the struct
      // form; under an intra-doc collision the order is no longer total
      // and a candidate could in principle be missed. That regime is
      // already the system's bet: q51 — whose string-exact DuckDB oracle
      // q78 must hash-match — keys its overlap COUNTS on the same
      // 64-bit identity, so a real collision fails the oracle gate
      // before candidate completeness ever matters.
      case "hash" =>
        arr.withColumn("p", prefixLen)
          .select(col("doc_id"), col("n"), posexplode(expr(
            "slice(array_sort(transform(shs, s -> xxhash64(s))), 1, p)")))
          .select(col("doc_id"), col("col").as("sh"), col("n"),
            (col("pos") + 1).as("pos"))
      case "df" =>
        import org.apache.spark.sql.expressions.Window
        val sh = arr.select(col("doc_id"), col("n"), explode(col("shs")).as("sh"))
        val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        sh.join(dfreq, "sh")
          .withColumn("pos", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))))
          .filter(col("pos") <= col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + lit(1))
          .select(col("doc_id"), xxhash64(col("sh")).as("sh"), col("n"), col("pos"))
      case other => throw new IllegalArgumentException(
        s"unknown prefix order '$other' (expected hash|df)")
    }
  }

  /** Test hooks: indexed-prefix vs full-inverted-index row counts — the
    * measurable claim behind q78 (DedupSpec asserts prefix < full/2). */
  private[graft] def prefixIndexSize(docs: DataFrame, threshold: Double, order: String = "hash"): Long =
    prefixIndex(shingleArraysOnce(docs).withColumn("n", size(col("shs"))), threshold, order).count()
  private[graft] def fullIndexSize(docs: DataFrame): Long = shingles(docs).count()

  /** Skew-stress hooks (SCALING.md r11): the (band, key) / (tbl, key)
    * bucket-size distributions the banded joins face, and the shingle
    * document-frequency head — the measured inputs behind the bucket-cap
    * defense. */
  private[graft] def minhashBucketSizes(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    bandedSignatures(minhashSignatures(docs, numHashes), numHashes, bands)
      .groupBy("band", "key").agg(count(lit(1)).as("n"))
  private[graft] def simhashBucketSizes(docs: DataFrame, maxHamming: Int): DataFrame =
    blockKeyedSketches(simhashSketch(docs), maxHamming)
      .groupBy("tbl", "key").agg(count(lit(1)).as("n"))
  private[graft] def shingleDfTop(docs: DataFrame, k: Int): DataFrame =
    shingles(docs).groupBy("sh").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc).limit(k)

  /** Connected components over a near-dup pair graph by iterative min-label
    * propagation: every node adopts the smallest label among itself and its
    * neighbors until fixpoint (≤ graph diameter iterations — near-dup
    * clusters are tiny, so 2–4 in practice; `maxIters` bounds pathological
    * chains). Output: (doc_id, cluster_id, is_keeper) for every doc that
    * appears in a pair; cluster_id = smallest doc_id in the component, the
    * deterministic keeper rule.
    *
    * Scale notes: each iteration is one shuffle join on the edge list. If
    * the graph is DEEPER than `maxIters` (a pathological chain), the
    * propagation would return wrong (unconverged) labels — so it hands off
    * to [[connectedComponentsStar]], whose round count is logarithmic in
    * component size instead of linear in diameter. */
  /** Asymmetric CONTAINMENT pairs (q192) — Broder's other coefficient:
    * C = |A∩B| / min(|A|, |B|), the share of the SMALLER doc's shingles
    * inside the larger. A fully-quoted article inside a digest page has
    * containment ≈ 1 while symmetric Jaccard stays low (the container
    * dwarfs the intersection), so threshold-Jaccard dedup (q51/q62)
    * structurally misses subset duplicates — this operator reports
    * exactly the pairs in that blind spot (containment ≥ the high bar,
    * Jaccard < the dedup threshold) with the contained side named.
    * Same freq-capped inverted-index join shape as q51; one extra
    * integer column per pair. */
  def containmentPairs(docs: DataFrame, containThreshold: Double = 0.9,
      jaccardBelow: Double = 0.6): DataFrame = {
    // hashed-identity shingles (r17, the q51 change): identity-only
    // consumer — sh is only a join/count key, results carry doc ids
    val sh = shingleHashes(docs)
    val freqOk = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq).select("sh")
    val shF = sh.join(freqOk, "sh").localCheckpoint(eager = false)
    val cnt = shF.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = shF.as("a")
      .join(shF.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    val j = col("c").cast("double") / (col("ca.n") + col("cb.n") - col("c"))
    val cont = col("c").cast("double") / least(col("ca.n"), col("cb.n"))
    common
      .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
      .filter(cont >= containThreshold && j < jaccardBelow)
      .select(col("d1"), col("d2"), col("ca.n").as("n1"), col("cb.n").as("n2"),
        col("c"), round(j, 6).as("jaccard"),
        round(cont, 6).as("containment"),
        when(col("ca.n") <= col("cb.n"), col("d1")).otherwise(col("d2"))
          .as("contained_doc"))
      .orderBy("d1", "d2")
  }

  /** Exact substring duplication audit (q210): per document, the share
    * of its fixed-length character windows whose exact content also
    * appears in ANOTHER document — the ExactSubstr signal of Lee et al.
    * 2021 ("Deduplicating Training Data Makes Language Models Better"),
    * whose suffix-array formulation is single-machine; this is the
    * distributed-join restatement. Every position of every doc emits its
    * `windowLen`-char window; a window is duplicated iff its content
    * occurs in ≥ 2 DISTINCT documents (min(doc_id) ≠ max(doc_id) — O(1)
    * aggregation state, never a per-window distinct set). `dup_ppm` is
    * integer parts-per-million via scaled-integer floor division (the
    * q180 lesson: a rounded double ratio of two counts can land exactly
    * on a rounding half where the engines' double-rounding rules
    * diverge).
    *
    * Scale shape: the window relation is |text| rows per doc, and the
    * exact face shuffles the WINDOW TEXT (windowLen bytes per position)
    * into the content groupBy — a documented windowLen× write
    * amplification that is the price of oracle-exactness. The production
    * face (`byHash = true`, suite-pinned equal to the exact face)
    * shuffles xxhash64(window) instead: 8 bytes per position regardless
    * of windowLen, with 2⁻⁶⁴-per-pair collision odds — the only shape
    * that fits at 100 TB, and the same bound the paper's released
    * implementation accepts for its hash-bucketed variant. Both faces
    * are two exchanges off one barriered window frame (content groupBy,
    * then the per-doc rollup), with map-side combine collapsing hot
    * boilerplate windows before the shuffle. Windows are code-point
    * substrings in BOTH engines (Spark substring and DuckDB substr are
    * code-point-indexed), so the faces agree beyond ASCII. */
  /** Positional window relation: (doc_id, i, w) with `i` the 0-BASED
    * window start and w the window text (oracle-exact) or its xxhash64
    * (the 8-bytes-per-position production form) —
    * THE single builder of the family's window/hash body.
    * Every face that windows text (q210 detect, q212 coverage, q214
    * apply, the SubstrDupStore build AND its probe sides) derives from
    * here, so the tokenization, indexing, and hash seed cannot silently
    * desynchronize between a store's contents and a probe against it. */
  private[operators] def windowRelationPos(docs: DataFrame, windowLen: Int,
      byHash: Boolean): DataFrame = {
    val winBody = s"substring(text, i + 1, $windowLen)"
    val winExpr = s"transform(sequence(0, length(text) - $windowLen), " +
      s"i -> ${if (byHash) s"xxhash64($winBody)" else winBody})"
    docs.filter(length(col("text")) >= windowLen)
      .select(col("doc_id"), posexplode(expr(winExpr)).as(Seq("i", "w")))
  }

  /** [[windowRelationPos]] without the position column, for faces that
    * only need window CONTENT. */
  private[operators] def windowRelation(docs: DataFrame, windowLen: Int,
      byHash: Boolean): DataFrame =
    windowRelationPos(docs, windowLen, byHash).select("doc_id", "w")

  def exactSubstringDup(docs: DataFrame, windowLen: Int = 40,
      byHash: Boolean = false): DataFrame = {
    val wins = windowRelation(docs, windowLen, byHash)
      .localCheckpoint(eager = false) // consumers: content df + per-doc rollup
    val dupw = wins.groupBy("w")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .select(col("w"), (col("mn") =!= col("mx")).as("is_dup"))
    wins.join(dupw, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        expr("div(n_dup_windows * 1000000, n_windows)").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** Substring-duplication CHARACTER coverage (q212): per document, how
    * many of its characters sit inside at least one duplicated window —
    * the Lee et al. 2021 headline number ("what fraction of the corpus
    * is duplicated text"), which [[exactSubstringDup]]'s window counts
    * over-state (overlapping dup windows double-count characters).
    * Exact interval union without materializing intervals: dup windows
    * all have length L, so with per-doc dup positions sorted ascending,
    * position p's fresh contribution is min(next_p − p, L) and the last
    * contributes L — a per-doc lead() window over dup positions only
    * (bounded by doc length, never a corpus-wide rank). `dup_char_ppm`
    * is scaled-integer floor division like q210's. Docs with no
    * duplicated window report zeros; docs shorter than the window are
    * absent (no window exists to test). Shares q210's window relation
    * shape and its byHash production face. */
  def substringDupCoverage(docs: DataFrame, windowLen: Int = 40,
      byHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = windowRelationPos(docs, windowLen, byHash)
      .localCheckpoint(eager = false) // consumers: content df + position join
    val dupw = wins.groupBy("w")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("w")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    val covered = wins.join(dupw, Seq("w"))
      .withColumn("nxt", lead(col("i"), 1).over(byDoc))
      .select(col("doc_id"),
        least(coalesce(col("nxt") - col("i"), lit(windowLen)),
          lit(windowLen)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_dup_chars"))
    docs.filter(length(col("text")) >= windowLen)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_dup_chars"), lit(0L)).as("n_dup_chars"))
      .select(col("doc_id"), col("n_chars"), col("n_dup_chars"),
        expr("div(n_dup_chars * 1000000, n_chars)").as("dup_char_ppm"))
      .orderBy("doc_id")
  }

  /** APPLY step for exact substring duplication (q214) — the removal
    * Lee et al. 2021 actually perform (their §4 "deduplicating" pass),
    * completing the detect (q210) / coverage (q212) / store (q213) /
    * apply (q214) family: every character covered by at least one CUT
    * window is deleted and the survivors re-concatenate in order. A
    * window of doc d is cut iff its content appears in ≥ 2 distinct
    * docs AND d is not the window's canonical keeper (min doc_id) — so
    * exactly one copy of every duplicated span survives, in the
    * smallest-id doc, and the keep rule is engine-free arithmetic
    * (no RNG, the q93 discipline). Within-doc-only repeats are NOT cut
    * (mn = mx); that refinement needs per-doc occurrence counts and is
    * the documented difference from the paper's suffix-array form.
    *
    * The reconstruction never goes per-character on the Spark side:
    * cut START positions collect per doc (array bounded by doc length —
    * the q154 per-doc-bound argument), and one in-row `aggregate` fold
    * over the sorted starts emits the uncovered gaps with substring
    * concatenation — interval union and text surgery in a single pass,
    * O(cuts) per doc. The oracle rebuilds the same text per-character
    * (positions minus covered positions, string_agg in order) — naive
    * on purpose, so the two faces share no shortcut to be wrong
    * together. `byHash` swaps window text for xxhash64 in the content
    * groupBy (8 bytes/position, the 100 TB shape; suite-pinned equal).
    * Docs shorter than the window are ABSENT from the output — no
    * window exists to test, and the oracle's WHERE excludes them
    * identically; a caller wanting the full corpus back left-joins the
    * survivors onto it (their text is untouched by definition). */
  def substringDedupApply(docs: DataFrame, windowLen: Int = 40,
      byHash: Boolean = false): DataFrame = {
    val eligible = docs.filter(length(col("text")) >= windowLen)
    val wins = windowRelationPos(docs, windowLen, byHash)
      .localCheckpoint(eager = false) // consumers: content df + cut join
    val cuts = wins.groupBy("w")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx")).select("w", "mn")
    val cutArr = wins.join(cuts, Seq("w"))
      .filter(col("doc_id") =!= col("mn"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("ps"))
    eligible.select(col("doc_id"), col("text"))
      .join(cutArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        keptTextExpr(windowLen).as("text_dedup"))
      .select(col("doc_id"), col("n_chars"), col("text_dedup"),
        (col("n_chars") - length(col("text_dedup")).cast("long"))
          .as("n_removed"))
      .orderBy("doc_id")
  }

  /** The in-row gap-emitting fold both apply faces share: given `text`
    * and `ps` (sorted 0-based cut starts, possibly NULL), concatenate
    * the characters outside the union of [p, p + windowLen) intervals.
    * Accumulator: (kept-so-far, next position not yet emitted or
    * covered); each start either opens a gap (emit it) or extends the
    * covered run; the finish lambda emits the tail. */
  private[operators] def keptTextExpr(windowLen: Int) = expr(
    s"""aggregate(coalesce(ps, cast(array() as array<int>)),
       |  named_struct('kept', '', 'nxt', 0),
       |  (a, s) -> named_struct(
       |    'kept', concat(a.kept,
       |      if(s > a.nxt, substring(text, a.nxt + 1, s - a.nxt), '')),
       |    'nxt', greatest(a.nxt, s + $windowLen)),
       |  a -> concat(a.kept,
       |    if(a.nxt < length(text),
       |       substring(text, a.nxt + 1, length(text) - a.nxt), '')))
       |""".stripMargin)

  /** All (bands, rows) factorizations of `numHashes`. */
  private[operators] def lshConfigs(numHashes: Int): Seq[(Int, Int)] =
    (1 to numHashes).filter(numHashes % _ == 0).map(b => (b, numHashes / b))

  /** x^n as a chain of DECIMAL multiplies, 12-dp-rounded AND re-cast to
    * DECIMAL(14,12) per step — exact, engine-free arithmetic (no libm
    * pow), and the explicit narrow re-cast keeps every intermediate far
    * from the 38-digit precision cap, where Spark silently REDUCES the
    * result scale (measured: letting precision grow diverged from
    * DuckDB by 1e-9 per value). Operands are probabilities in [0, 1],
    * so 2 integer digits always suffice. */
  private def mulChain(base: String, n: Int): String =
    (2 to n).foldLeft(base)((acc, _) =>
      s"cast(round(($acc) * ($base), 12) as decimal(14,12))")

  /** SQL for the banding collision probability 1 − (1 − J^r)^b over the
    * INTEGER micro-Jaccard column `j6` (J = j6 · 10⁻⁶, an exact DECIMAL
    * scale shift — never a float), as DECIMAL(18,9); one builder feeds
    * both the Spark face and the DuckDB oracle so the faces cannot
    * disagree. */
  private[operators] def collisionProbSql(b: Int, r: Int): String = {
    val jac = "cast(cast(j6 as decimal(14,6)) * cast(0.000001 as decimal(7,6)) as decimal(14,12))"
    val inner = s"cast((1 - ${mulChain(jac, r)}) as decimal(14,12))"
    s"cast(round(1 - ${mulChain(inner, b)}, 9) as decimal(18,9))"
  }

  /** SQL for the half-up-rounded micro-Jaccard ⌊(c·10⁶)/(n1+n2−c) + ½⌋,
    * in pure INTEGER arithmetic (`intDiv`: `div` in Spark, `//` in
    * DuckDB — identical on non-negative operands). The planner buckets,
    * thresholds, and derives probabilities from THIS value, so no
    * engine's float `round` tie behavior can move a pair between
    * buckets. */
  private[operators] def microJaccardSql(intDiv: String): String =
    s"((2*c*1000000 + (n1+n2-c)) $intDiv (2*(n1+n2-c)))"

  /** The S-curve midpoint (1/b)^(1/r), evaluated ONCE in Scala and
    * injected into both faces as a 6-dp literal — the only
    * transcendental in the planner, and it never reaches either
    * engine's libm. */
  private[operators] def sCurveMidpointSql(b: Int, r: Int): String = {
    val v = BigDecimal(math.pow(1.0 / b, 1.0 / r))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    s"cast($v as double)"
  }

  /** LSH parameter planner (q216): for every (bands, rows) factorization
    * of `numHashes`, the EXPECTED false-negative and false-positive pair
    * counts of banded MinHash against this corpus's OBSERVED similarity
    * distribution — the audit that turns "we use 4 bands of 4" from a
    * default into a decision. A pair with Jaccard J collides in at least
    * one band with probability p = 1 − (1 − J^r)^b (Broder banding;
    * signatures are modeled as exact — q189 measures that error
    * separately). Summing p over observed pairs BELOW the dedup
    * threshold gives expected candidate noise; summing (1 − p) over
    * pairs AT/ABOVE it gives expected missed true pairs. The observed
    * distribution is the exact pair frame (q51 machinery) at a low
    * floor, collapsed to a (jaccard, n) histogram first — 6-dp Jaccard
    * values make that bounded, and the probability arithmetic then runs
    * per DISTINCT value, not per pair. Sub-floor pairs contribute no
    * noise estimate (documented: their p at any config here is ≤
    * p(floor), and they are exactly the pairs no threshold in use would
    * keep). All probability arithmetic is DECIMAL with per-step 12-dp
    * rounds generated from ONE builder into both faces; sums are exact
    * DECIMAL (order-independent) cast to double at the edge. At 100 TB
    * the planner costs one exact-pair materialization it shares with
    * q177's sweep — or zero corpus work when pointed at the persisted
    * index's pair graph. */
  def lshParameterPlan(docs: DataFrame, numHashes: Int = 16,
      threshold: Double = 0.6, floor: Double = 0.05): DataFrame =
    lshParameterPlanFromPairs(rawJaccardPairFrame(docs), numHashes, threshold, floor)

  /** [[lshParameterPlan]] over a pre-built RAW pair frame carrying
    * (n1, n2, c) — [[rawJaccardPairFrame]]'s shape, which the persisted
    * dedup index's pair graph also matches for zero corpus scans. All
    * cuts (floor, threshold) and the probability arithmetic run on the
    * INTEGER micro-Jaccard, so the two faces agree bit-for-bit on every
    * engine. */
  private[operators] def lshParameterPlanFromPairs(rawPairs: DataFrame,
      numHashes: Int, threshold: Double = 0.6, floor: Double = 0.05): DataFrame = {
    val thrMicro = math.round(threshold * 1e6)
    val floorMicro = math.round(floor * 1e6)
    val hist = rawPairs
      .select(expr(microJaccardSql("div")).as("j6"))
      .filter(col("j6") >= floorMicro)
      .groupBy("j6").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // one consumer per (b, r) config
    lshConfigs(numHashes).map { case (b, r) =>
      hist.select(lit(b).as("b"), lit(r).as("r"),
        expr(sCurveMidpointSql(b, r)).as("s_half"),
        col("j6"), col("n"), expr(collisionProbSql(b, r)).as("p"))
    }.reduce(_ union _)
      .groupBy("b", "r", "s_half")
      .agg(
        coalesce(sum(when(col("j6") >= thrMicro, col("n"))), lit(0L))
          .cast("long").as("n_true"),
        // n narrowed to DECIMAL(14,0) BEFORE the multiply: long counts as
        // decimal(20,0) × decimal(19,9) is precision 40 > 38, where Spark
        // silently REDUCES the result scale to ~7 digits (measured: the
        // sums diverged from DuckDB's exact 9-dp decimals by 1e-7)
        coalesce(sum(when(col("j6") >= thrMicro,
            col("n").cast("decimal(14,0)") * (lit(1) - col("p")))), lit(0))
          .cast("double").as("exp_fn"),
        coalesce(sum(when(col("j6") < thrMicro,
            col("n").cast("decimal(14,0)") * col("p"))), lit(0))
          .cast("double").as("exp_fp"))
      .orderBy("b")
  }

  /** MinHash estimation-error audit (q189): every pair the LSH face
    * (q52) surfaces, with its signature-estimated Jaccard compared to
    * the EXACT Jaccard — the error distribution that justifies (or
    * indicts) the configured numHashes before anyone trusts est_jaccard
    * for threshold decisions. Exact values come from the q51 machinery
    * at a low floor; surfaced pairs whose exact similarity sits below
    * the floor coalesce to 0, so their reported error is an upper bound
    * inflated by at most the floor (documented, and the floor is 0.01).
    * Mean error sums DECIMAL(18,6); everything is pair-bounded. */
  def minhashErrorAudit(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      exactFloor: Double = 0.01, grossErr: Double = 0.25): DataFrame =
    minhashErrorAuditFrom(minhashLshPairs(docs, numHashes, bands),
      exactJaccardPairs(docs, exactFloor), grossErr)

  /** [[minhashErrorAudit]] under the engine-agnostic md5 lane family —
    * the q189 declared face (and, fed from the persisted index's shingle
    * relation, q209's): estimates come from [[minhashLshPairsMd5]], so
    * the DuckDB oracle replays candidate generation, the lane-agreement
    * estimates, the exact floor pairs, and the error aggregation — the
    * full audit semantics, not just its output shape. */
  def minhashErrorAuditMd5(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      exactFloor: Double = 0.01, grossErr: Double = 0.25): DataFrame =
    minhashErrorAuditFrom(minhashLshPairsMd5(docs, numHashes, bands),
      exactJaccardPairs(docs, exactFloor), grossErr)

  /** DuckDB oracle for the md5-lane MinHash error audit (q189, and
    * verbatim for the index-backed q209, the q219 same-SQL pattern):
    * est side = q52's md5 lane CTEs, exact side = the q51 pair CTEs at
    * the 0.01 audit floor, then [[minhashErrorAuditFrom]]'s rounding and
    * DECIMAL(18,6) mean — term for term. */
  private[operators] lazy val minhashErrorAuditOracleSql: String =
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
      |       FROM w WHERE len(ws) >= 3),
      |${md5SigCtesSql(16)},
      |band AS (SELECT doc_id, lane // 4 AS band,
      |           string_agg(CAST(v AS VARCHAR), ',' ORDER BY lane) AS key
      |         FROM sig GROUP BY doc_id, lane // 4),
      |ok AS (SELECT band, key FROM band GROUP BY 1, 2 HAVING count(*) <= 10000),
      |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |         FROM band a JOIN ok USING (band, key) JOIN band b USING (band, key)
      |         WHERE a.doc_id < b.doc_id),
      |est AS (SELECT c.d1, c.d2,
      |          CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE) / 16
      |            AS est_jaccard
      |        FROM cand c JOIN sig sa ON sa.doc_id = c.d1
      |                    JOIN sig sb ON sb.doc_id = c.d2 AND sb.lane = sa.lane
      |        GROUP BY 1, 2),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2),
      |exact AS (SELECT d1, d2, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jaccard
      |          FROM com JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
      |          WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.01),
      |errs AS (SELECT round(abs(e.est_jaccard - coalesce(x.jaccard, 0.0)), 6) AS abs_err
      |         FROM est e LEFT JOIN exact x ON e.d1 = x.d1 AND e.d2 = x.d2)
      |SELECT count(*) AS n_pairs,
      |  round(CAST(sum(CAST(abs_err AS DECIMAL(18,6))) AS DOUBLE)
      |    / nullif(count(*), 0), 6) AS mean_abs_err,
      |  max(abs_err) AS max_abs_err,
      |  CAST(sum(CASE WHEN abs_err > 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_gross,
      |  round(CAST(sum(CASE WHEN abs_err > 0.25 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / nullif(count(*), 0), 6) AS gross_share
      |FROM errs""".stripMargin

  /** [[minhashErrorAudit]]'s arithmetic over pre-built pair frames —
    * shared with the index face (q209): `est` is an LSH pair frame
    * (d1, d2, est_jaccard), `exact` an exact pair frame (d1, d2,
    * jaccard) at the audit floor. */
  private[operators] def minhashErrorAuditFrom(est0: DataFrame, exact0: DataFrame,
      grossErr: Double): DataFrame = {
    val est = est0.select(col("d1"), col("d2"), col("est_jaccard"))
    val exact = exact0.select(col("d1"), col("d2"), col("jaccard"))
    val errs = est.join(exact, Seq("d1", "d2"), "left")
      .select(round(abs(col("est_jaccard")
        - coalesce(col("jaccard"), lit(0.0))), 6).as("abs_err"))
    errs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("abs_err").cast("decimal(18,6)")).as("errsum"),
        max(col("abs_err")).as("max_abs_err"),
        sum(when(col("abs_err") > grossErr, 1L).otherwise(0L)).as("n_gross"))
      .select(col("n_pairs"),
        round(col("errsum").cast("double") / nullif(col("n_pairs"), lit(0L)), 6)
          .as("mean_abs_err"),
        col("max_abs_err"), col("n_gross"),
        round(col("n_gross").cast("double") / nullif(col("n_pairs"), lit(0L)), 6)
          .as("gross_share"))
  }

  /** Near-duplicate EXPLANATION (q186): for every pair the dedup join
    * flags, the `topShingles` RAREST shared shingles (ascending global
    * document frequency, then text) rendered as one evidence string —
    * what a human reviews before trusting a dedup decision: "page
    * boilerplate" shingles have high df, genuinely-copied content is
    * rare. Shared-shingle recovery joins the pair list (pair-bounded)
    * back onto the shingle frame on each side; the per-pair window runs
    * on shared-shingle-bounded groups; df is one more corpus-shingle
    * aggregation. Evidence uses TEXT shingles (the q62 oracle's form);
    * the pair set itself is [[exactJaccardPairs]]'s. */
  def nearDupExplanation(docs: DataFrame, threshold: Double = 0.6,
      topShingles: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = exactJaccardPairs(docs, threshold)
      .localCheckpoint(eager = false) // consumers: shared join + output
    val sh = shingles(docs)
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

  /** Dedup-threshold sweep (q177): pair counts and affected-doc counts
    * at every threshold of a fixed ladder, all from ONE pair
    * materialization at the ladder floor — the "which threshold should
    * dedup cut at" audit (q170 shows the cluster structure at one
    * threshold; this shows how the blast radius moves as the dial
    * turns). Affected docs per threshold derive from each doc's MAX
    * pair similarity (a doc is affected at t iff its best pair ≥ t),
    * so the sweep never re-runs the similarity join: one barrier, a
    * ladder-bounded explode over pair/doc-max frames, and left joins
    * that keep zero-count rungs. */
  def thresholdSweep(docs: DataFrame,
      ladder: Seq[Double] = Seq(0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = exactJaccardPairs(docs, ladder.min)
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

  /** Duplication-structure audit: the component-size histogram of the
    * near-dup graph — one row per cluster size with component/doc counts
    * and corpus share, singletons (docs in no cluster) included as the
    * size-1 row. The "is my dedup threshold sane" read: a giant
    * component at a low threshold means the threshold chains unrelated
    * docs; a long size-2 tail means plain re-posts. Everything after
    * clustering runs on cluster-count-sized frames; totals ride one-row
    * broadcasts. */
  def componentSizeHistogram(docs: DataFrame, clusters: DataFrame): DataFrame =
    componentSizeHistogramFrom(docs.agg(count(lit(1)).as("n_total")), clusters)

  /** [[componentSizeHistogram]] against a caller-supplied one-row
    * `(n_total)` frame — the index face (q197) supplies the persisted
    * corpus count instead of re-scanning documents. */
  private[operators] def componentSizeHistogramFrom(
      nTotal: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("size"))
    val hist = sizes.groupBy("size").agg(count(lit(1)).as("n_components"))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_docs"))
      .localCheckpoint(eager = false) // consumers: member total + output
    val totals = nTotal
      .crossJoin(broadcast(hist.agg(
        coalesce(sum(col("n_docs")), lit(0L)).as("n_members"))))
      .localCheckpoint(eager = false) // consumers: singleton row + shares
    val singletons = totals.select(lit(1L).as("size"),
      (col("n_total") - col("n_members")).as("n_components"),
      (col("n_total") - col("n_members")).as("n_docs"))
    hist.unionByName(singletons)
      .crossJoin(broadcast(totals.select("n_total")))
      .filter(col("n_components") > 0)
      .select(col("size"), col("n_components"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6)
          .as("corpus_share"))
      .orderBy("size")
  }

  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // cache + materialize the pair computation FIRST: the symmetric union
    // below reads it twice, and every iteration joins against it
    val p = pairs.cache()
    val nPairs = p.count()
    // size iteration parallelism to the graph, not the corpus — near-dup
    // graphs are usually a tiny fraction of the input, and per-iteration
    // task overhead dominates otherwise (~100k edges per partition)
    val parts = math.max(1, math.min(
      p.sparkSession.sparkContext.defaultParallelism,
      (nPairs / 100000L).toInt + 1))
    val edges = p.select(col("d1").as("a"), col("d2").as("b"))
      .union(p.select(col("d2").as("a"), col("d1").as("b")))
      .distinct().repartition(parts).cache()
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).cache()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      i += 1
      // fused update + convergence flag: one join, one action per iteration
      val updated = labelPropRound(edges, labels).cache()
      val changed = updated.filter(col("chg")).limit(1).count()
      labels.unpersist()
      labels = updated.drop("chg")
      // truncate logical lineage periodically: execution reuses the
      // cached blocks either way, but the LOGICAL plan doubles per round
      // (labels joins its own ancestry), and analyzer/optimizer time on
      // a deep-graph run grows with it — the same guard star CC applies
      // every round (label sets are tiny relative to the corpus)
      if (i % 5 == 0) labels = labels.localCheckpoint(true)
      converged = changed == 0
    }
    if (!converged) {
      // component deeper than maxIters: unconverged labels would be WRONG
      // (two docs of one cluster under different keepers). Fall back to the
      // O(log n)-round star algorithm instead.
      labels.unpersist(); edges.unpersist()
      val viaStar = connectedComponentsStar(p)
      p.unpersist()
      return viaStar
    }
    // Release every intermediate cache before returning: the operator
    // otherwise leaks p/edges/labels blocks for the session's lifetime
    // (measured: repeated q62 runs in one JVM crept 5.5s → 8.0s as the
    // block manager filled). The final label set is tiny (cluster members
    // only), so one eager checkpoint pins the RESULT and frees the rest.
    val result = labels.select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .localCheckpoint(eager = true)
    labels.unpersist(); edges.unpersist(); p.unpersist()
    result
  }

  /** Weighted PageRank (Brin & Page 1998) over the near-duplicate
    * similarity graph — link-analysis centrality as a curation signal: a
    * doc whose similarity mass concentrates (a template hub, a canonical
    * page mirrored with variations) accumulates rank, while docs with
    * only incidental overlap stay near the teleport floor. Rank-ordered
    * output feeds "keep the canonical variant" / "audit the hubs"
    * decisions the binary dup-cluster view (q62/q67) can't express.
    *
    * Determinism (the q87/q104 decimal discipline): edge shares and
    * per-round contributions round to 9 dp, sums run through
    * DECIMAL(18,9) (exact, order-free), and every double op is performed
    * identically by the oracle's unrolled SQL — so 5 rounds of float
    * iteration still hash-match DuckDB.
    *
    * Scale shape: per round = one shuffle join (edge × rank on u) + one
    * aggregate (contributions by v) + the node left-join — all on the
    * edge/node frames; edges and nodes sit behind barriers built once;
    * round frames are eagerly checkpointed and the superseded one
    * released immediately (the BPE loop discipline), so live state is
    * ≤ 2 rank copies regardless of iteration count. The loop body is
    * extracted as [[pageRankRound]] for the per-round PlanSpec budget
    * (a regression there multiplies by `iters`). */
  def pageRank(docs: DataFrame, pairs: DataFrame, damping: Double = 0.85,
      iters: Int = 5): DataFrame = {
    val nodes = docs.select(col("doc_id")).localCheckpoint(eager = false)
    val nDf = nodes.agg(count(lit(1)).as("n_total")).localCheckpoint(eager = false)
    val e0 = pairs.select(col("d1").as("u"), col("d2").as("v"), col("jaccard").as("w"))
    val both = e0.unionByName(
      e0.select(col("v").as("u"), col("u").as("v"), col("w")))
    val wsum = both.groupBy("u")
      .agg(sum(col("w").cast("decimal(18,6)")).as("wu"))
    val edges = both.join(wsum, "u")
      .select(col("u"), col("v"),
        round(col("w") / col("wu").cast("double"), 9).as("share"))
      .localCheckpoint(eager = false)
    var ranks = nodes.crossJoin(broadcast(nDf))
      .select(col("doc_id"), round(lit(1.0) / col("n_total"), 9).as("rank"))
      .localCheckpoint(eager = true)
    (1 to iters).foreach { _ =>
      val next = pageRankRound(edges, ranks, nodes, nDf, damping)
        .localCheckpoint(eager = true)
      graft.Barriers.release(ranks)
      ranks = next
    }
    ranks
  }

  /** One PageRank round — the loop body of [[pageRank]], exposed for the
    * per-round plan budget: r'(v) = (1−d)/N + d·Σ_u share(u,v)·r(u),
    * contributions 9-dp-rounded pre-sum. */
  private[graft] def pageRankRound(edges: DataFrame, ranks: DataFrame,
      nodes: DataFrame, nDf: DataFrame, damping: Double): DataFrame = {
    val contrib = edges
      .join(ranks.withColumnRenamed("doc_id", "u_id"), col("u") === col("u_id"))
      .select(col("v"),
        round(col("share") * col("rank"), 9).cast("decimal(18,9)").as("c"))
    val sums = contrib.groupBy(col("v").as("doc_id")).agg(sum(col("c")).as("s"))
    nodes.join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(nDf))
      .select(col("doc_id"),
        round(lit(1.0 - damping) / col("n_total")
          + lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 9)
          .as("rank"))
  }

  /** Unrolled DuckDB oracle for [[pageRank]]: one CTE per round, each
    * mirroring the Spark round's arithmetic op-for-op. */
  private def pageRankOracleSql(threshold: Double, damping: Double,
      iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT d.doc_id AS doc_id,
         |    round(${1.0 - damping} / n.n + $damping * coalesce(CAST(s.s AS DOUBLE), 0), 9) AS rank
         |  FROM documents d CROSS JOIN n LEFT JOIN (
         |    SELECT e.v AS doc_id, sum(CAST(round(e.share * r.rank, 9) AS DECIMAL(18,9))) AS s
         |    FROM e JOIN r${i - 1} r ON e.u = r.doc_id GROUP BY 1) s
         |  ON d.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
       |           FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
       |       FROM w WHERE len(ws) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |p AS (SELECT d1, d2, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 6) AS jac
       |      FROM com JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
       |      WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= $threshold),
       |edges AS (SELECT d1 AS u, d2 AS v, jac AS w FROM p
       |          UNION ALL SELECT d2, d1, jac FROM p),
       |wsum AS (SELECT u, sum(CAST(w AS DECIMAL(18,6))) AS wu FROM edges GROUP BY 1),
       |e AS (SELECT edges.u AS u, edges.v AS v, round(w / CAST(wu AS DOUBLE), 9) AS share
       |      FROM edges JOIN wsum USING (u)),
       |n AS (SELECT count(*) AS n FROM documents),
       |r0 AS (SELECT doc_id, round(1.0 / n.n, 9) AS rank FROM documents, n),
       |$rounds
       |SELECT doc_id, rank FROM r$iters ORDER BY doc_id""".stripMargin
  }

  /** One min-label-propagation round — q62's loop body, exposed so
    * PlanSpec can pin its per-round shuffle budget (the iterative
    * operators' cost is rounds × this plan; a regression here multiplies).
    * Two shuffle joins + one aggregate: neighbor-min by edge target, then
    * the fused label update + changed flag. */
  private[graft] def labelPropRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.withColumnRenamed("doc_id", "b_id"),
        col("b") === col("b_id"))
      .groupBy(col("a").as("doc_id"))
      .agg(min(col("label")).as("nbr_label"))
    labels.join(neighborMin, Seq("doc_id"))
      .select(col("doc_id"),
        least(col("label"), col("nbr_label")).as("label"),
        (col("nbr_label") < col("label")).as("chg"))
  }

  /** Materialize a dedup decision: keep every doc that is NOT a
    * non-keeper cluster member (q91 — the apply step after
    * [[duplicateClusters]]/[[connectedComponentsStar]]). Plain anti-join
    * with NO broadcast hint: web-crawl LLM dedup routinely drops 30–80%
    * of the corpus, so the dropped-id set can be billions of rows — a
    * forced broadcast would bypass AQE's size check and OOM exactly on
    * the corpora this operator exists for. AQE still picks a broadcast
    * at runtime when the dropped set really is small; when it isn't,
    * the anti-join shuffles both sides on doc_id and scales linearly.
    * Docs outside every cluster pass through untouched. */
  def dedupApply(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(!col("is_keeper")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Contamination-safe train/valid/test split (q93): every document in a
    * near-dup cluster inherits the CLUSTER's split, so a held-out example
    * can never leak into training via a near-duplicate. Unclustered docs
    * group by their own id. Assignment is a deterministic hash bucket —
    * the two leading hex chars of md5(group id), compared
    * lexicographically ('e6' ≈ 89.8% train, 'f3' ≈ +5.1% valid, rest
    * test) — identical on every engine/run/cluster size, no seeded RNG to
    * coordinate. Scale shape: one join of the corpus against the (small)
    * cluster membership — unhinted, AQE broadcasts it when it fits — and
    * the hash is computed in-row; no extra shuffle beyond the join. */
  def clusterSplit(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val h = substring(md5(col("group_id").cast("string")), 1, 2)
    docs.select("doc_id")
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        when(h < lit("e6"), "train")
          .when(h < lit("f3"), "valid")
          .otherwise("test").as("split"))
  }

  /** Quality-aware dedup apply (q106): keep each near-dup cluster's BEST
    * member by q41 quality (tie → lowest doc_id) instead of [[dedupApply]]'s
    * min-id keeper — near-copies usually differ in boilerplate/truncation,
    * and production dedup wants the cleanest copy, not the lowest id.
    * Unclustered docs form singleton groups and always survive.
    *
    * Scale shape: quality is an in-row projection; group assignment is one
    * unhinted join of the corpus against the (small) cluster membership
    * (AQE broadcasts when it fits); the per-group argmax is
    * max(struct(quality, -doc_id)) — a map-side-combined aggregate, one
    * shuffle by group_id, no per-group window sort. NULL quality
    * (degenerate docs) competes as −1 so a singleton degenerate doc still
    * survives, but any real-quality member beats it. */
  def dedupKeepBest(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        Curation.qualityExpr(col("text")).as("quality"))
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("group_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(coalesce(col("quality"), lit(-1.0)).as("q"),
          (-col("doc_id")).as("nid"))).as("best"))
      .select((-col("best.nid")).as("doc_id"), col("group_id"),
        col("n_members"),
        when(col("best.q") === lit(-1.0), lit(null).cast("double"))
          .otherwise(col("best.q")).as("quality"))

  /** Hard-negative contrastive triples (q118) — DPR/SimCSE-style mining:
    * for every near-dup cluster member (anchor), emit the smallest
    * co-cluster member as the POSITIVE and the most lexically-similar
    * doc OUTSIDE the cluster as the HARD NEGATIVE (most shared 3-gram
    * shingles; ties → min doc_id; no overlap → null). The training-pair
    * generation step an embedding-model pipeline runs over the curated
    * corpus: easy negatives teach nothing, and the hardest ones are
    * exactly the near-misses the dedup index already surfaces — so the
    * triples fall out of machinery the pipeline has ALREADY paid for.
    *
    * Scale shape: ONE shingle inverted-index pass (hashed keys, df-
    * capped, the q51 shape) feeds both the cluster graph and the
    * negative candidates — the `common` pair-count frame sits behind a
    * barrier with three consumers (threshold pairs + both directions of
    * the candidate expansion); without it the index self-join re-runs
    * per consumer. The per-anchor argmax is a map-side-combined
    * max(struct(c, −cand)) — no window sort; candidate volume is the
    * SAME pair set the dedup join already materializes, never all-pairs. */
  def contrastivePairs(docs: DataFrame, threshold: Double): DataFrame = {
    // hashed-identity shingles (r17, the q51 change): identity-only
    // consumer — sh is only a join/count key, results carry doc ids
    val sh = shingleHashes(docs)
    val freqOk = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDocFreq).select("sh")
    val shF = sh.join(freqOk, "sh").localCheckpoint(eager = false)
    val cnt = shF.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = shF.as("a")
      .join(shF.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val j = col("c").cast("double") / (col("ca.n") + col("cb.n") - col("c"))
    val pairs = common
      .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
      .filter(j >= threshold)
      .select(col("d1"), col("d2"))
    // cluster table: four consumers (both sides of pos, both of cand)
    val clus = duplicateClusters(pairs).select("doc_id", "cluster_id")
      .localCheckpoint(eager = false)
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

  /** Connected components by alternating large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * deep-component fallback for [[duplicateClusters]]:
    *
    *  - large-star: every node's strictly-larger neighbors re-link to the
    *    minimum of its closed neighborhood — `(v, m(u))` for `v > u`.
    *  - small-star: orient each edge large→small; every node's smaller
    *    neighbors (and the node itself) re-link to that minimum.
    *
    * Both steps preserve connectivity and strictly shrink star depth; the
    * edge set reaches its fixpoint (every non-root pointing at its
    * component minimum) in rounds LOGARITHMIC in component size — a
    * 1000-node chain converges in ~10 rounds where min-label propagation
    * needs ~1000 joins. Each round is two self-aggregating joins on the
    * edge list, no driver-side graph state; convergence is detected by an
    * (edge-count, hash-sum) fingerprint — one tiny action per round.
    *
    * Input: undirected pairs (d1, d2); output matches duplicateClusters:
    * (doc_id, cluster_id, is_keeper), cluster_id = component minimum. */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val p = pairs.select(col("d1"), col("d2")).cache()
    val nodes = p.select(col("d1").as("doc_id"))
      .union(p.select(col("d2").as("doc_id"))).distinct().cache()
    val parts = math.max(1, math.min(
      p.sparkSession.sparkContext.defaultParallelism,
      (p.count() / 100000L).toInt + 1))
    // every round derives from the previous round's edge set MULTIPLE times
    // (symmetric union + two joins), so building on raw lineage grows the
    // logical plan exponentially with rounds — localCheckpoint each round
    // pins the data AND truncates the plan to a constant size
    var edges = p.filter(col("d1") =!= col("d2"))
      .select(col("d1").as("a"), col("d2").as("b"))
      .distinct().repartition(parts).localCheckpoint(true)

    // (count, xor-of-hashes): order-insensitive, overflow-free (ANSI-safe),
    // collision odds negligible at equal counts
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var fp = fingerprint(edges)
    var converged = fp._1 == 0L
    var i = 0
    while (!converged && i < maxIters) {
      i += 1
      val next = starRound(edges).repartition(parts).localCheckpoint(true)
      val nextFp = fingerprint(next)
      edges = next
      converged = nextFp == fp
      fp = nextFp
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    // fixpoint edges form stars: each non-root has edges only to its root
    val roots = edges.groupBy(col("a").as("doc_id")).agg(min(col("b")).as("root"))
    // pin the (tiny) result, then release the intermediate caches — same
    // no-leak discipline as duplicateClusters
    val result = nodes.join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .localCheckpoint(eager = true)
    nodes.unpersist(); p.unpersist()
    result
  }

  /** One large-star + small-star round — q67's loop body, exposed so
    * PlanSpec can pin its per-round shuffle budget. Each round is two
    * self-aggregating joins over the edge list (Kiveris SoCC'14); the
    * caller repartitions and checkpoint-barriers the result. */
  private[graft] def starRound(edges: DataFrame): DataFrame = {
    // large-star over the symmetric adjacency (u=a, v=b)
    val nbrs = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = nbrs.groupBy("a").agg(min(col("b")).as("mn"))
      .select(col("a"), least(col("a"), col("mn")).as("m"))
    val large = nbrs.join(mins, "a")
      .filter(col("b") > col("a") && col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
    // small-star on the large→small orientation
    val oriented = large.select(
      greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
    val m2 = oriented.groupBy("hi").agg(min(col("lo")).as("m"))
    val joined = oriented.join(m2, "hi")
    joined.select(col("lo").as("a"), col("m").as("b"))
      .union(joined.select(col("hi").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** MinHash signatures (numHashes seeded xxhash64 mins over shingles),
    * banded into `bands` keys; candidate pairs from the band-key equi-join,
    * scored by signature agreement. (band, key) buckets larger than
    * `maxBucketSize` are dropped before the self-join (see
    * [[defaultLshBucketCap]]). */
  def minhashLshPairs(docs: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = defaultLshBucketCap): DataFrame =
    minhashLshPairsFromShingles(shingles(docs), numHashes, bands, maxBucketSize)

  /** [[minhashLshPairs]] under the engine-agnostic md5 lane family —
    * the q52 declared face (see [[minhashSignaturesMd5From]]). */
  def minhashLshPairsMd5(docs: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = defaultLshBucketCap): DataFrame =
    minhashLshPairsFromShingles(shingles(docs), numHashes, bands, maxBucketSize, "md5")

  /** [[minhashLshPairs]] core over an ALREADY-MATERIALIZED shingle
    * relation (doc_id, sh) — the entry the persisted dedup index probes
    * (q209) so the audit faces never re-shingle the corpus. Byte-equal to
    * the docs form because [[minhashSignaturesFrom]]'s min-fold is
    * order-independent over the same shingle SET. */
  private[operators] def minhashLshPairsFromShingles(sh: DataFrame, numHashes: Int,
      bands: Int, maxBucketSize: Int = defaultLshBucketCap,
      family: String = "xxhash64"): DataFrame = {
    // One barrier, three consumers: the bucket-count aggregate and both
    // self-join sides all read the banded frame, and without the
    // localCheckpoint each re-ran the signature UDAF over the shingles
    // (the r6→r7 repartition-for-reuse never survived AQE — same failure
    // mode as q51's, same fix). Signatures compute once; the persisted
    // blocks are a constant numHashes longs per doc × bands.
    val sigs = family match {
      case "xxhash64" => minhashSignaturesFrom(sh, numHashes)
      case "md5"      => minhashSignaturesMd5From(sh, numHashes)
      case other => throw new IllegalArgumentException(
        s"unknown minhash family '$other' (expected md5|xxhash64)")
    }
    val banded = bandedSignatures(sigs, numHashes, bands)
      .localCheckpoint(eager = false)
    val capped = capBuckets(banded, Seq("band", "key"), maxBucketSize)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        sigAgreement(numHashes).as("est_jaccard"))
      .distinct()
  }

  /** MinHash signature per doc: (doc_id, sig array<bigint> of length
    * numHashes). One-pass via the typed Aggregator UDAF: each shingle
    * updates all lanes in a single constant-size buffer, so the partial
    * state merged across partitions is numHashes longs per doc (vs
    * numHashes independent min() aggregates). PERSISTABLE — write this
    * to parquet and feed it back to [[incrementalMinhashPairs]] to dedup
    * later batches against the corpus without re-shingling it. */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    minhashSignaturesFrom(shingles(docs), numHashes)

  /** Public md5-family entry of [[minhashSignaturesMd5From]] — the
    * signatures the q223 streaming ingest sink persists so its pair log
    * exactly replays the oracle-checked q52 lane family. */
  def minhashSignaturesMd5(docs: DataFrame, numHashes: Int): DataFrame =
    minhashSignaturesMd5From(shingles(docs), numHashes)

  /** ENGINE-AGNOSTIC MinHash signatures: per-lane INDEPENDENT md5
    * hashes — lanes 4t..4t+3 are the four 32-bit quarters (8 hex chars
    * each) of md5(t ++ "_" ++ sh). md5, not xxhash64, because DuckDB
    * computes the IDENTICAL lanes — what upgrades q52 from golden-pinned
    * to oracle-checked; the salt-per-call construction (not the r12
    * Kirsch–Mitzenmacher h1 + i·h2 lanes) because K-M is DEGENERATE as a
    * min-wise family: one corpus-common shingle whose h2 lands far below
    * 2⁵⁷ dominates min(h1 + i·h2) for every high lane, so any two docs
    * sharing that one boilerplate shingle agree on most lanes — measured
    * on the sf0.001 corpus as est≈0.75 for pairs with true Jaccard
    * < 0.01 (mean audit error 0.59). K-M double-hashing is sound for
    * q123's Bloom probes (its actual theorem) but not for per-lane
    * minima. Salted quarters are mutually independent bits of distinct
    * digests, the degeneracy is gone (audit error back at the
    * 1/√numHashes band), and the per-shingle cost is numHashes/4 md5
    * calls — the documented price of cross-engine checkability. 32-bit
    * lanes are plenty for minima: an in-doc collision needs two of a
    * doc's ~10² shingles in the same 2³² bucket (~10⁻⁵), and a
    * cross-doc chance-equal min biases est by ~2⁻³². The xxhash64 UDAF
    * family stays the production default, in-suite recall-gated. */
  private[operators] def minhashSignaturesMd5From(sh: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes % 4 == 0, s"md5 lanes come in digest quarters (got $numHashes)")
    val calls = numHashes / 4
    val hashed = sh.select(col("doc_id") +:
      (0 until calls).map(t =>
        md5(concat(lit(s"${t}_"), col("sh"))).as(s"m$t")): _*)
    val lanes = (0 until numHashes).map { i =>
      val t = i / 4
      val off = 1 + (i % 4) * 8
      min(expr(s"CAST(conv(substring(m$t, $off, 8), 16, 10) AS BIGINT)")).as(s"v$i")
    }
    hashed.groupBy("doc_id").agg(lanes.head, lanes.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"v$i")): _*).as("sig"))
  }

  /** DuckDB CTE pair (lane/sig) replaying [[minhashSignaturesMd5From]]
    * for `numHashes` lanes over a `sh(doc_id, sh)` relation — shared by
    * the q52 oracle and the q189/q209 audit oracle so the two cannot
    * desynchronize. */
  private[operators] def md5SigCtesSql(numHashes: Int): String = {
    require(numHashes % 4 == 0, s"md5 lanes come in digest quarters (got $numHashes)")
    s"""lane AS (SELECT doc_id, t.t AS t, md5(CAST(t.t AS VARCHAR) || '_' || sh) AS mh
       |         FROM sh, range(0, ${numHashes / 4}) t(t)),
       |sig AS (SELECT doc_id, t * 4 + qr.q AS lane,
       |          min(CAST(('0x' || substr(mh, 1 + qr.q * 8, 8)) AS BIGINT)) AS v
       |        FROM lane, (SELECT unnest(range(0, 4)) AS q) qr
       |        GROUP BY 1, 2)""".stripMargin
  }

  private def minhashSignaturesFrom(sh: DataFrame, numHashes: Int): DataFrame = {
    val mh = udaf(new graft.functions.MinHashAgg(numHashes))
    sh.groupBy("doc_id").agg(mh(col("sh")).as("sig"))
  }

  /** Explode signatures into (doc_id, sig, band, key) LSH rows — the
    * join-ready form both the self-join (q52) and the incremental
    * new-vs-corpus join share. */
  private def bandedSignatures(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandCols = expr(
      s"transform(sequence(0, ${bands - 1}), b -> named_struct(" +
        s"'band', b, 'key', xxhash64(b, ${(0 until rowsPerBand).map(r => s"sig[$rowsPerBand*b+$r]").mkString(", ")})))")
    sigs.select(col("doc_id"), col("sig"), explode(bandCols).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Estimated Jaccard = signature lane agreement between join sides
    * aliased `a`/`b`. */
  private def sigAgreement(numHashes: Int): Column =
    size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), p => p))
      .cast("double") / numHashes

  /** Incremental near-dup: candidate pairs between a NEW batch and an
    * EXISTING corpus represented only by its persisted
    * [[minhashSignatures]] — the scheduled-crawl shape, where each
    * night's batch dedups against everything already ingested without
    * re-reading (let alone re-shingling) the corpus. Shuffle volume is
    * O((new + corpus) × bands) band rows, and at 100 TB the corpus side
    * rereads only the signature table (numHashes longs per doc, ~0.1% of
    * the text). Pairs are normalized d1 < d2, so with the same
    * parameters the result is exactly the new↔corpus slice of
    * [[minhashLshPairs]] over the union (DedupSpec pins this). New↔new
    * pairs are NOT emitted — run the self-join on the batch for those.
    * ASSUMES batch and corpus doc_ids are disjoint (the ingest
    * pipeline's id stamping guarantees it).
    * The bucket cap counts the COMBINED (band, key) bucket across both
    * sides — the same bucket the self-join over the union would count —
    * so the cross-slice contract holds at every bucket size; capping
    * each side independently would keep a bucket whose halves are both
    * under cap while the joint join still goes quadratic. */
  def incrementalMinhashPairs(newDocs: DataFrame, corpusSigs: DataFrame,
      numHashes: Int, bands: Int,
      maxBucketSize: Int = defaultLshBucketCap,
      family: String = "xxhash64"): DataFrame = {
    // barrier on the new side only: its signature UDAF re-runs the
    // shingling, and both the union bucket count and the join read it.
    // The corpus side recomputes from the persisted signature parquet —
    // a cheap narrow explode not worth re-persisting at corpus scale.
    // `family` must match the family that PRODUCED corpusSigs — the
    // md5 lane family feeds the q223 streaming twin, whose batch face
    // is the oracle-checked md5 q52 form.
    val newSigs = family match {
      case "xxhash64" => minhashSignatures(newDocs, numHashes)
      case "md5"      => minhashSignaturesMd5From(shingles(newDocs), numHashes)
      case other => throw new IllegalArgumentException(
        s"unknown minhash family '$other' (expected md5|xxhash64)")
    }
    val newBanded = bandedSignatures(newSigs, numHashes, bands)
      .localCheckpoint(eager = false)
    val corpusBanded = bandedSignatures(corpusSigs, numHashes, bands)
    val over = broadcast(overCapBuckets(
      Seq(newBanded, corpusBanded), Seq("band", "key"), maxBucketSize))
    val keys = Seq("band", "key")
    newBanded.join(over, keys, "left_anti").as("a")
      .join(corpusBanded.join(over, keys, "left_anti").as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        sigAgreement(numHashes).as("est_jaccard"))
      .distinct()
  }

  /** 64-bit SimHash sketch per doc: xxhash64 per word, ±1 vote per bit,
    * sign of the vote sum sets the bit. (doc_id, simhash BIGINT).
    * Computed by the native one-pass [[graft.functions.SimHash64]] — a
    * narrow map over the scan; the old declarative form (explode → 64
    * conditional aggregates) shuffled every WORD of the corpus by doc_id
    * ([[simhashSketchDeclarative]] survives as the parity reference).
    * Docs with no tokens are excluded, matching the declarative form
    * (explode of an empty array emits no rows). */
  def simhashSketch(docs: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), expr("graft_simhash64(ws)").as("simhash"))
  }

  /** The declarative sketch, kept as the cross-implementation parity
    * oracle for [[simhashSketch]] (DedupSpec asserts exact equality). */
  private[graft] def simhashSketchDeclarative(docs: DataFrame): DataFrame = {
    val wordHash = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val bitVotes = (0 until 64).map { k =>
      sum(when(expr(s"(h >> $k) & 1") === 1, 1).otherwise(-1)).as(s"b$k")
    }
    val votes = wordHash.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val simhash = (0 until 64).map { k =>
      when(col(s"b$k") > 0, expr(s"CAST(1 AS BIGINT) << $k")).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), simhash.as("simhash"))
  }

  /** ENGINE-AGNOSTIC SimHash sketches: bit k of a word's hash = bit
    * (k mod 4) of md5 hex nibble (k div 4) — 64 bits drawn evenly from
    * the md5 the ORACLE can recompute (the q123/q52 family trade). md5
    * runs ONCE per word occurrence; the 64 nibble/shift extractions are
    * in-row integer ops. Votes, packing, banding, and the hamming cut
    * all reuse the production machinery — only the per-word bit source
    * differs from [[simhashSketch]]. */
  private[graft] def simhashSketchMd5(docs: DataFrame): DataFrame = {
    def nib(p: Int) = s"CAST(conv(substring(m, ${p + 1}, 1), 16, 10) AS BIGINT)"
    val hexed = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("m"))
    val bitVotes = (0 until 64).map { k =>
      sum(expr(s"2 * (shiftright(${nib(k / 4)}, ${k % 4}) & 1) - 1")).as(s"b$k")
    }
    val votes = hexed.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val simhash = (0 until 64).map { k =>
      when(col(s"b$k") > 0, expr(s"shiftleft(CAST(1 AS BIGINT), $k)"))
        .otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), simhash.as("simhash"))
  }

  /** DuckDB oracle for the md5-family q53: the same bits as
    * [[simhashSketchMd5]] spelled as a 64-char '0'/'1' string (char k+1
    * = bit k), block-combination keys generated by the SAME
    * combinations enumeration [[blockKeyedSketches]] uses (8 equal
    * blocks, C(8, 8−maxHamming) keys), the same bucket cap, and hamming
    * as a per-position char comparison — one Scala builder, two engine
    * spellings, so the faces cannot drift apart. */
  private[operators] def simhashMd5OracleSql(maxHamming: Int,
      cap: Int = defaultLshBucketCap): String = {
    require(maxHamming >= 0 && maxHamming <= 7, "oracle form assumes 8 blocks")
    val nBlocks = 8
    def nib(p: Int) = s"CAST(('0x' || substr(m, ${p + 1}, 1)) AS BIGINT)"
    val votes = (0 until 64).map { k =>
      s"sum(2 * ((${nib(k / 4)} >> ${k % 4}) & 1) - 1) AS b$k"
    }.mkString(", ")
    val bitStr = (0 until 64)
      .map(k => s"CASE WHEN b$k > 0 THEN '1' ELSE '0' END").mkString(" || ")
    val keySelects = (0 until nBlocks).combinations(nBlocks - maxHamming)
      .zipWithIndex.map { case (blocks, tbl) =>
        val key = blocks.map(c => s"substr(s, ${8 * c + 1}, 8)").mkString(" || ")
        s"SELECT doc_id, s, $tbl AS tbl, $key AS key FROM bits"
      }.mkString(" UNION ALL ")
    val hamming = (1 to 64)
      .map(p => s"CASE WHEN substr(sa.s, $p, 1) != substr(sb.s, $p, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
       |           FROM documents),
       |hx AS (SELECT doc_id, md5(unnest(ws)) AS m FROM w),
       |votes AS (SELECT doc_id, $votes FROM hx GROUP BY doc_id),
       |bits AS (SELECT doc_id, $bitStr AS s FROM votes),
       |keys AS ($keySelects),
       |ok AS (SELECT tbl, key FROM keys GROUP BY 1, 2 HAVING count(*) <= $cap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM keys a JOIN ok USING (tbl, key) JOIN keys b USING (tbl, key)
       |         WHERE a.doc_id < b.doc_id),
       |ham AS (SELECT d1, d2, CAST($hamming AS BIGINT) AS hamming
       |        FROM cand JOIN bits sa ON sa.doc_id = cand.d1
       |                  JOIN bits sb ON sb.doc_id = cand.d2)
       |SELECT d1, d2, hamming FROM ham WHERE hamming <= $maxHamming
       |ORDER BY d1, d2"""
  }

  /** 64-bit SimHash over word unigrams (xxhash64 per word, ±1 vote per
    * bit), near-dup pairs = hamming distance <= maxHamming. See
    * [[simhashPairsFromSketches]] for the candidate-generation guarantee. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      maxBucketSize: Int = defaultLshBucketCap): DataFrame =
    simhashPairsFromSketches(simhashSketch(docs), maxHamming, maxBucketSize)

  /** Near-dup pairs at hamming distance <= maxHamming over precomputed
    * (doc_id, simhash BIGINT) sketches, via block-combination banding
    * (Manku/Jain/Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    * WWW'07 §3; mirrors the reference's near-dup intent, dossier §2.8):
    *
    * The 64 bits are split into `nBlocks` contiguous blocks and each join
    * key concatenates a combination of `nBlocks - maxHamming` blocks; ALL
    * such combinations become keys. A pair within hamming d <= maxHamming
    * has its differing bits inside at most d blocks, leaving >= nBlocks - d
    * blocks untouched — which contain at least one full key combination, so
    * EVERY qualifying pair shares at least one (tbl, key): recall over the
    * hamming ball is exactly 1, for any maxHamming (the old fixed 4×16-bit
    * chunking only guaranteed d <= 3). For maxHamming <= 7 this uses 8
    * blocks of 8 bits — e.g. d=6 → C(8,2)=28 tables with 16-bit keys, far
    * more selective than the 7 × 9-bit chunks naive pigeonhole needs; for
    * larger d it degrades to (d+1) single-block keys.
    *
    * Candidates come from a partitioned (tbl, key) equi-join — O(docs ×
    * tables) shuffle rows, never all-pairs; buckets above `maxBucketSize`
    * are dropped first (see [[defaultLshBucketCap]]). */
  def simhashPairsFromSketches(sketches: DataFrame, maxHamming: Int,
      maxBucketSize: Int = defaultLshBucketCap): DataFrame = {
    // same one-barrier-three-consumers shape as minhashLshPairs: the
    // bucket count and both join sides read the persisted keyed rows
    val keyed = blockKeyedSketches(sketches, maxHamming)
      .localCheckpoint(eager = false)
    val capped = capBuckets(keyed, Seq("tbl", "key"), maxBucketSize)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Explode sketches into (doc_id, simhash, tbl, key) block-combination
    * rows (see [[simhashPairsFromSketches]] for the recall guarantee) —
    * the join-ready form the self-join and the incremental new-vs-corpus
    * join share. UNCAPPED: callers apply the bucket cap over whichever
    * row set actually feeds their join (the self-join caps this frame
    * alone; the incremental path caps the new ∪ corpus union). */
  private def blockKeyedSketches(sketches: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val nBlocks = if (maxHamming <= 7) 8 else maxHamming + 1
    val blocksPerKey = nBlocks - maxHamming
    // block c spans bits [start(c), start(c+1)) — equal 8-bit blocks when
    // nBlocks = 8, floor-balanced widths otherwise. shiftright/shiftleft
    // function form: the `>>` operator fails to tokenize inside array(...)
    // (parser ambiguity with nested ARRAY<...> type syntax).
    def start(c: Int) = 64 * c / nBlocks
    val keyStructs = (0 until nBlocks).combinations(blocksPerKey).zipWithIndex.map {
      case (blocks, tbl) =>
        var shift = 0
        val parts = blocks.map { c =>
          val w = start(c + 1) - start(c)
          val p = s"shiftleft(shiftright(simhash, ${start(c)}) & ${(1L << w) - 1}L, $shift)"
          shift += w
          p
        }
        s"named_struct('tbl', $tbl, 'key', ${parts.mkString(" | ")})"
    }.toSeq
    sketches.select(col("doc_id"), col("simhash"),
        explode(expr(s"array(${keyStructs.mkString(", ")})")).as("tk"))
      .select(col("doc_id"), col("simhash"),
        col("tk.tbl").as("tbl"), col("tk.key").as("key"))
  }

  /** Incremental SimHash near-dup: pairs between a NEW batch and an
    * EXISTING corpus represented only by its persisted [[simhashSketch]]
    * table (doc_id, simhash — 16 bytes per doc). The MinHash twin is
    * [[incrementalMinhashPairs]]; same contract: normalized d1 < d2,
    * exactly the new↔corpus slice of [[simhashPairsFromSketches]] over
    * the union (block-combination keys depend only on each row's own
    * sketch, so recall over the hamming ball stays exactly 1), new↔new
    * pairs via the batch self-join. The bucket cap counts the COMBINED
    * (tbl, key) bucket across both sides, matching what the self-join
    * over the union drops — see [[incrementalMinhashPairs]] for why
    * per-side capping would break the cross-slice contract. */
  def incrementalSimhashPairs(newDocs: DataFrame, corpusSketches: DataFrame,
      maxHamming: Int, maxBucketSize: Int = defaultLshBucketCap): DataFrame = {
    // barrier on the new side (its sketch runs the text pipeline; the
    // bucket count and the join both read it); corpus keys recompute
    // from the persisted 16-byte-per-doc sketch table — cheap, and not
    // worth re-persisting at corpus scale
    val newKeyed = blockKeyedSketches(simhashSketch(newDocs), maxHamming)
      .localCheckpoint(eager = false)
    val corpusKeyed = blockKeyedSketches(corpusSketches, maxHamming)
    val over = broadcast(overCapBuckets(
      Seq(newKeyed, corpusKeyed), Seq("tbl", "key"), maxBucketSize))
    val keys = Seq("tbl", "key")
    newKeyed.join(over, keys, "left_anti").as("a")
      .join(corpusKeyed.join(over, keys, "left_anti").as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
