package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Baseline: exact brute-force cosine top-k — query set broadcast against
  * the corpus scan, similarity via the native codegen'd
  * [[graft.functions.DotProduct]] expression (no UDF, no lambda
  * allocation). At 100 TB the corpus side streams partition-local
  * with zero shuffle (the only shuffle is the final per-query top-k, which
  * is bounded by queries × k after a partial top-k inside each partition).
  *
  * Scale path: random-hyperplane LSH — each vector reduces to a small
  * bucket signature; candidates come from an equi-join on (band, key), so
  * pair volume is O(corpus × bands) instead of O(queries × corpus).
  */
object Similarity {

  /** embedding as array<double> plus its L2 norm. Uses the native
    * codegen'd [[graft.functions.DotProduct]] expression — the
    * aggregate/zip_with lambda form was 30× slower on the all-pairs query
    * (intermediate array per row, per-element lambda dispatch). */
  private def withNorm(df: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("norm", sqrt(expr("graft_dot(emb, emb)")))
  }

  private def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  /** Shared DuckDB CTE body: exact all-pairs cosine (v1 < v2, rounded to 6
    * places) — q55 filters it directly; q79's recursive closure builds on
    * the identical edge set. */
  private val cosinePairsOracleCte =
    """
      |  SELECT a.vec_id AS v1, b.vec_id AS v2,
      |    round(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
      |      / (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
      |         * sqrt(sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
      |  FROM embeddings a, embeddings b, (SELECT unnest(range(1, 4097)) AS i) i
      |  WHERE a.vec_id < b.vec_id AND i.i <= len(a.embedding)
      |  GROUP BY a.vec_id, b.vec_id""".stripMargin

  def defs: Map[String, QueryDef] = Map(

    // ---- exact brute-force cosine top-k (rank on the rounded similarity
    //      with vec_id tie-break so both engines rank identically) ----
    "q54_cosine_topk" -> QueryDef.sql(
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    round(sum(CAST(q.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
        |      / (sqrt(sum(CAST(q.embedding[i.i] AS DOUBLE) * CAST(q.embedding[i.i] AS DOUBLE)))
        |         * sqrt(sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
        |  FROM q, embeddings e, (SELECT unnest(range(1, 4097)) AS i) i
        |  WHERE e.vec_id != q.vec_id AND i.i <= len(e.embedding)
        |  GROUP BY q.vec_id, e.vec_id),
        |r AS (SELECT qid, nid, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM p)
        |SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""") { (s, dir) =>
      cosineTopK(Tables.embeddings(s, dir), col("vec_id") < 50, k = 5)
        .orderBy("qid", "rank")
    },

    // ---- exact cosine threshold pairs (embedding near-dup detection) ----
    "q55_cosine_threshold_pairs" -> QueryDef.sql(
      s"""WITH p AS ($cosinePairsOracleCte)
        |SELECT v1, v2, cos_sim FROM p WHERE cos_sim >= 0.4
        |ORDER BY v1, v2""") { (s, dir) =>
      exactCosinePairs(Tables.embeddingsSpread(s, dir), threshold = 0.4)
        .orderBy("v1", "v2")
    },

    // ---- semantic dedup: connected components over the embedding-cosine
    //      near-dup graph, keeper = smallest vec_id per component (the
    //      SemDeDup-shaped "keep one per semantic cluster" op a training
    //      pipeline ships; pair graph here is the exact one so the oracle's
    //      recursive-CTE closure sees identical edges — the 100 TB path
    //      swaps in LSH candidates, see [[semanticDedupClustersLsh]]) ----
    "q79_semantic_dedup" -> QueryDef.sql(
      s"""WITH RECURSIVE p AS ($cosinePairsOracleCte),
        |pairs AS (SELECT v1, v2 FROM p WHERE cos_sim >= 0.4),
        |edges AS (SELECT v1 AS a, v2 AS b FROM pairs
        |          UNION SELECT v2, v1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |  WHERE r.a != e.b),
        |members AS (SELECT DISTINCT a AS vec_id FROM edges)
        |SELECT m.vec_id,
        |  least(m.vec_id, min(r.b)) AS cluster_id,
        |  m.vec_id = least(m.vec_id, min(r.b)) AS is_keeper
        |FROM members m JOIN reach r ON r.a = m.vec_id
        |GROUP BY m.vec_id
        |ORDER BY vec_id""") { (s, dir) =>
      // embeddingsSpread (r17): the all-pairs BNLJ stream side was the
      // single-split scan — one 3.4 s task (JobProfile), the exact shape
      // the r16 spread fixed for q55/q126. Pair cosines are in-row and
      // the cluster labels integer, so the result is partitioning-proof.
      semanticDedupClusters(Tables.embeddingsSpread(s, dir), threshold = 0.4)
        .orderBy("vec_id")
    },

    // ---- dedup family agreement audit (q222): over the ids that carry
    //      BOTH text and an embedding (vec_id = doc_id, the q83
    //      convention), classify every near-dup pair surfaced by EITHER
    //      family — lexical (q51's exact 3-gram Jaccard ≥ 0.6) or
    //      semantic (q79's exact cosine ≥ 0.4) — as both / lexical_only
    //      / semantic_only, with counts and the min example pair per
    //      class. The modality-coverage audit: lexical_only = verbatim
    //      copies the embedding missed (paraphrase-invariant embeddings
    //      blur exact duplication), semantic_only = paraphrases no
    //      shingle survives — the measured case FOR running both
    //      families at 100 TB (where each side swaps in its LSH face;
    //      this audit composes the exact graphs, the declared oracle
    //      baselines). ----
    "q222_dedup_family_agreement" -> QueryDef.sql(dkQ222Sql) { (s, dir) =>
      // both spreads (r17): the lexical side fuses the shingle-index fold
      // and the semantic side the all-pairs BNLJ stream into their
      // single-split scans (the q51/q55 shapes; JobProfile)
      dedupFamilyAgreement(Tables.documentsSpread(s, dir),
          Tables.embeddingsSpread(s, dir))
        .orderBy("family")
    },

    // ---- SemDeDup: k-means-bounded semantic dedup with the paper's
    //      farthest-from-centroid keep rule. ORACLE-CHECKED since r13
    //      the artifact way: the iterative k-means stays golden-pinned,
    //      the face persists its centroid table, and DuckDB replays
    //      EVERYTHING after the quantizer from those bytes —
    //      normalization + assignment as ordered list_reduce folds
    //      (bit-identical doubles), probed-cluster ranking, within-
    //      cluster edges, the recursive-CTE components (q79's closure),
    //      and the farthest-from-centroid keep rule. SimilaritySpec
    //      still gates the groups as refinements of the exact q79
    //      clusters and measures edge recall. ----
    "q136_semdedup_kmeans" -> QueryDef.sql(dkSemDedupSql(0.4, 3)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      semDedupFromCentroids(emb,
        persistArtifact("q136", "centroids", kmeansCentroids(emb, k = 8, iters = 2)),
        threshold = 0.4).orderBy("vec_id")
    },

    // ---- margin-based nearest-neighbor scoring (the bitext-mining /
    //      parallel-data selection criterion, Artetxe & Schwenk 2019):
    //      a raw cosine is not comparable across vectors whose
    //      neighborhoods differ in density, so each vector's top-1
    //      similarity is normalized by the mean of its own and its
    //      neighbor's k-NN similarities. margin >> 1 = a genuinely
    //      isolated match; margin ≈ 1 = a hub vector that is "close" to
    //      everything. Exact all-pairs face is the declared O(n²) oracle
    //      baseline (the q55 pattern); the 100 TB path feeds
    //      [[marginScoresFrom]] with LSH-candidate kNN (q56), which the
    //      spec exercises. ----
    "q126_margin_topk" -> QueryDef.sql(
      s"""WITH p AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |    round(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
        |      / (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
        |         * sqrt(sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
        |  FROM embeddings a, embeddings b, (SELECT unnest(range(1, 4097)) AS i) i
        |  WHERE a.vec_id != b.vec_id AND i.i <= len(a.embedding)
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, nid, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM p),
        |m AS (SELECT qid, round(CAST(sum(CAST(cos_sim AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS knn_mean
        |      FROM r WHERE rank <= 4 GROUP BY 1),
        |t1 AS (SELECT qid, nid, cos_sim FROM r WHERE rank = 1)
        |SELECT t1.qid AS qid, t1.nid AS nid, t1.cos_sim AS cos_sim,
        |  mq.knn_mean AS knn_mean_q, mn.knn_mean AS knn_mean_n,
        |  round(t1.cos_sim / ((mq.knn_mean + mn.knn_mean) / 2), 6) AS margin
        |FROM t1 JOIN m mq ON t1.qid = mq.qid JOIN m mn ON t1.nid = mn.qid
        |ORDER BY t1.qid""") { (s, dir) =>
      marginScores(Tables.embeddingsSpread(s, dir), k = 4).orderBy("qid")
    },

    // ---- LSH-bucketed approximate top-k (the 100 TB path), ORACLE-
    //      CHECKED (r13 VERDICT #1 — the last rows-only face closed):
    //      the PRODUCTION xxhash plane family's signs are persisted as a
    //      parquet artifact and the face computes margins as exact
    //      scaled longs (the q220 arithmetic), so DuckDB reads the
    //      stored signs and replays banding, the 2 weakest-|margin|
    //      probe flips per band, and the exact re-score bit-for-bit.
    //      The fused-double-loop [[annLshTopK]] stays the production
    //      lane (bench face x56, recall-gated in SimilaritySpec).
    //      Multi-probe lifts top-1 recall from 0.46 (r3/r4 params) to
    //      ~0.9 at the same corpus-side index size. ----
    "q56_ann_lsh_topk" -> QueryDef.sql(
      s"""WITH planes AS (
         |  SELECT pl, d, s FROM read_parquet('$annOracleRoot/q56/planes/*.parquet')),
         |terms AS (
         |  SELECT e.vec_id, pl,
         |    sum(CAST(round(CAST(e.embedding[planes.d] AS DOUBLE), 9)
         |      AS DECIMAL(18,9)) * s) AS margin
         |  FROM embeddings e, planes
         |  GROUP BY 1, 2),
         |keys AS (
         |  SELECT vec_id, pl // 6 AS band,
         |    CAST(sum(CASE WHEN margin > 0
         |      THEN (CAST(1 AS BIGINT) << (pl % 6)) ELSE 0 END) AS BIGINT) AS key
         |  FROM terms GROUP BY 1, 2),
         |qrank AS (
         |  SELECT vec_id, pl, row_number() OVER (
         |    PARTITION BY vec_id, pl // 6 ORDER BY abs(margin), pl) AS rn
         |  FROM terms WHERE vec_id < 50),
         |qkeys AS (
         |  SELECT vec_id, band, key FROM keys WHERE vec_id < 50
         |  UNION
         |  SELECT k.vec_id, k.band,
         |    xor(k.key, CAST(1 AS BIGINT) << (r.pl % 6)) AS key
         |  FROM keys k JOIN qrank r ON r.vec_id = k.vec_id AND r.pl // 6 = k.band
         |  WHERE k.vec_id < 50 AND r.rn <= 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM qkeys q JOIN keys c ON c.band = q.band AND c.key = q.key
         |  WHERE c.vec_id != q.vec_id),
         |p AS (
         |  SELECT cand.qid, cand.nid,
         |    round(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
         |      / (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
         |         * sqrt(sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.qid
         |  JOIN embeddings b ON b.vec_id = cand.nid,
         |       (SELECT unnest(range(1, 65)) AS i) i
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, nid, cos_sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         |      FROM p)
         |SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""") { (s, dir) =>
      annLshTopKXxhash(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        planesPerBand = 6, bands = 16, probes = 2)
        .orderBy("qid", "rank")
    },

    // ---- hyperplane-LSH top-k, ORACLE-CHECKED (q220): the md5 plane
    //      family + exact scaled-long margins make candidate generation
    //      engine-independent, so DuckDB regenerates the planes FROM md5
    //      ITSELF (not from the Scala masks — the gate cross-validates
    //      the two derivations), replays the banding, the weakest-
    //      |margin| probe flips, and the exact re-score, and must match
    //      bit-for-bit. q56 (native xxhash planes, fused double loop)
    //      stays the production face; this is its semantic pin. ----
    "q220_ann_lsh_topk_md5" -> QueryDef.sql(
      s"""WITH planes AS (
         |  SELECT p.p AS pl, d.d AS d,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' ||
         |        CAST(d.d - 1 AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
         |      THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(range(0, 96)) AS p) p,
         |       (SELECT unnest(range(1, 65)) AS d) d),
         |terms AS (
         |  SELECT e.vec_id, pl,
         |    sum(CAST(round(CAST(e.embedding[planes.d] AS DOUBLE), 9)
         |      AS DECIMAL(18,9)) * s) AS margin
         |  FROM embeddings e, planes
         |  GROUP BY 1, 2),
         |keys AS (
         |  SELECT vec_id, pl // 6 AS band,
         |    CAST(sum(CASE WHEN margin > 0
         |      THEN (CAST(1 AS BIGINT) << (pl % 6)) ELSE 0 END) AS BIGINT) AS key
         |  FROM terms GROUP BY 1, 2),
         |qrank AS (
         |  SELECT vec_id, pl, row_number() OVER (
         |    PARTITION BY vec_id, pl // 6 ORDER BY abs(margin), pl) AS rn
         |  FROM terms WHERE vec_id < 50),
         |qkeys AS (
         |  SELECT vec_id, band, key FROM keys WHERE vec_id < 50
         |  UNION
         |  SELECT k.vec_id, k.band,
         |    xor(k.key, CAST(1 AS BIGINT) << (r.pl % 6)) AS key
         |  FROM keys k JOIN qrank r ON r.vec_id = k.vec_id AND r.pl // 6 = k.band
         |  WHERE k.vec_id < 50 AND r.rn <= 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
         |  FROM qkeys q JOIN keys c ON c.band = q.band AND c.key = q.key
         |  WHERE c.vec_id != q.vec_id),
         |p AS (
         |  SELECT cand.qid, cand.nid,
         |    round(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
         |      / (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
         |         * sqrt(sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.qid
         |  JOIN embeddings b ON b.vec_id = cand.nid,
         |       (SELECT unnest(range(1, 65)) AS i) i
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, nid, cos_sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
         |      FROM p)
         |SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""") { (s, dir) =>
      annLshTopKMd5(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        planesPerBand = 6, bands = 16, probes = 2)
        .orderBy("qid", "rank")
    },

    // ---- LSH-candidate cosine threshold pairs, ORACLE-CHECKED (the
    //      q220 md5-plane family on the PAIRS shape): the 100 TB
    //      replacement for q55's exact all-pairs — candidates from a
    //      (band, key) equi-join (shuffle O(n × bands)), exact
    //      re-scoring, so every emitted pair carries the exactly-
    //      computed similarity. DuckDB regenerates the planes from md5,
    //      replays the banding self-join and the re-score; the native
    //      xxhash-plane [[cosineThresholdPairsLsh]] stays the
    //      production face, recall-gated in SimilaritySpec. ----
    "q55b_cosine_pairs_lsh" -> QueryDef.sql(
      s"""WITH planes AS (
         |  SELECT p.p AS pl, d.d AS d,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || '_' ||
         |        CAST(d.d - 1 AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
         |      THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(range(0, 144)) AS p) p,
         |       (SELECT unnest(range(1, 65)) AS d) d),
         |terms AS (
         |  SELECT e.vec_id, pl,
         |    sum(CAST(round(CAST(e.embedding[planes.d] AS DOUBLE), 9)
         |      AS DECIMAL(18,9)) * s) AS margin
         |  FROM embeddings e, planes
         |  GROUP BY 1, 2),
         |keys AS (
         |  SELECT vec_id, pl // 6 AS band,
         |    CAST(sum(CASE WHEN margin > 0
         |      THEN (CAST(1 AS BIGINT) << (pl % 6)) ELSE 0 END) AS BIGINT) AS key
         |  FROM terms GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
         |  WHERE a.vec_id < b.vec_id),
         |p AS (
         |  SELECT cand.v1, cand.v2,
         |    round(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
         |      / (sqrt(sum(CAST(a.embedding[i.i] AS DOUBLE) * CAST(a.embedding[i.i] AS DOUBLE)))
         |         * sqrt(sum(CAST(b.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE)))), 6) AS cos_sim
         |  FROM cand
         |  JOIN embeddings a ON a.vec_id = cand.v1
         |  JOIN embeddings b ON b.vec_id = cand.v2,
         |       (SELECT unnest(range(1, 65)) AS i) i
         |  GROUP BY 1, 2)
         |SELECT v1, v2, cos_sim FROM p WHERE cos_sim >= 0.4
         |ORDER BY v1, v2""") { (s, dir) =>
      // embeddingsSpread: the 144-plane md5 margin fold is fused into the
      // single-split scan stage (measured 4.04 → 1.40 s at sf0.1, one
      // 2.7 s single-task job before the spread)
      cosineThresholdPairsLshMd5(Tables.embeddingsSpread(s, dir), threshold = 0.4,
        planesPerBand = 6, bands = 24)
        .orderBy("v1", "v2")
    },

    // ---- IVF top-k with a k-means coarse quantizer, ORACLE-CHECKED the
    //      artifact way (the q219 pattern): training stays golden-pinned,
    //      but the face persists (vectors, centroids) and DuckDB replays
    //      assignment → routing → exact re-score from the same parquet in
    //      identical decimal arithmetic. [[ivfTopK]] (native double path)
    //      stays the production face, recall-gated in SimilaritySpec. ----
    "q65_ivf_topk" -> QueryDef.sql(
      s"""WITH ${dkVecCtes("q65")},
         |${dkAssignCtes("q65")},
         |posting AS (SELECT vec_id AS nid, cluster_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cluster_id FROM ar
         |           WHERE vec_id < 50 AND rn <= 3),
         |cand AS (SELECT DISTINCT qid, nid
         |         FROM probes JOIN posting USING (cluster_id) WHERE qid != nid),
         |${dkRescoreTail(5)}""") { (s, dir) =>
      ivfTopKOracle(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        nClusters = 8, nProbe = 3)
        .orderBy("qid", "rank")
    },

    // ---- product-quantization ADC top-k, ORACLE-CHECKED the artifact
    //      way: codebook training golden-pinned; encode, the per-query
    //      ADC tables, the k·refine cut, and the exact re-score replayed
    //      by DuckDB from the persisted (vectors, codebook). [[pqTopK]]
    //      stays the production face, recall-gated. ----
    "q204_pq_adc_topk" -> QueryDef.sql(
      s"""WITH ${dkVecCtes("q204")},
         |${dkEncodeCtes("q204", "v")},
         |${dkAdcCte(50)},
         |ap AS (SELECT adc.qid, codes.vec_id, sum(adc.t) AS approx
         |       FROM codes JOIN adc ON adc.sub = codes.sub AND adc.cid = codes.cid
         |       WHERE adc.qid != codes.vec_id GROUP BY 1, 2),
         |cand AS (SELECT qid, vec_id AS nid FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx DESC, vec_id) AS arn FROM ap) ac2
         |  WHERE arn <= 80),
         |${dkRescoreTail(5)}""") { (s, dir) =>
      pqTopKOracle(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        m = 8, ks = 32, refine = 16)
        .orderBy("qid", "rank")
    },

    // ---- IVF-PQ top-k, ORACLE-CHECKED the artifact way: coarse
    //      quantizer routes, PQ codes score, exact re-score on the
    //      survivors — the billion-scale layout, with assignment,
    //      routing, encode, probed-list ADC, the k·refine cut, and the
    //      re-score all replayed by DuckDB from the persisted artifact.
    //      [[ivfPqTopK]] stays the production face, recall-gated. ----
    "q205_ivfpq_topk" -> QueryDef.sql(
      s"""WITH ${dkVecCtes("q205")},
         |${dkAssignCtes("q205")},
         |posting AS (SELECT vec_id, cluster_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cluster_id FROM ar
         |           WHERE vec_id < 50 AND rn <= 16),
         |${dkEncodeCtes("q205", "v")},
         |cc2 AS (SELECT codes.vec_id, codes.sub, codes.cid, posting.cluster_id
         |        FROM codes JOIN posting USING (vec_id)),
         |${dkAdcCte(50)},
         |adcp AS (SELECT adc.qid, pr.cluster_id, adc.sub, adc.cid, adc.t
         |         FROM adc JOIN probes pr ON pr.qid = adc.qid),
         |ap AS (SELECT a.qid, cc2.vec_id, sum(a.t) AS approx
         |       FROM cc2 JOIN adcp a ON a.cluster_id = cc2.cluster_id
         |         AND a.sub = cc2.sub AND a.cid = cc2.cid
         |       WHERE a.qid != cc2.vec_id GROUP BY 1, 2),
         |cand AS (SELECT qid, vec_id AS nid FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx DESC, vec_id) AS arn FROM ap) ac2
         |  WHERE arn <= 80),
         |${dkRescoreTail(5)}""") { (s, dir) =>
      ivfPqTopKOracle(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        nClusters = 32, nProbe = 16, m = 8, ks = 32, refine = 16)
        .orderBy("qid", "rank")
    },

    // ---- residual IVF-PQ top-k, ORACLE-CHECKED the artifact way: PQ
    //      codes quantize (unit − centroid) residuals, the exact q·c
    //      term rides the routing stage — the FAISS-default refinement
    //      of q205 at identical scan cost, with residual construction
    //      and the composed ADC+q·c score additionally replayed. ----
    "q218_ivfpq_residual_topk" -> QueryDef.sql(
      s"""WITH ${dkVecCtes("q218")},
         |${dkAssignCtes("q218")},
         |posting AS (SELECT vec_id, cluster_id FROM ar WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cluster_id, cc FROM ar
         |           WHERE vec_id < 50 AND rn <= 16),
         |rx AS (SELECT p.vec_id, p.cluster_id, ix.i AS i,
         |         v.emb[ix.i] - c.cemb[ix.i] AS rv
         |       FROM posting p JOIN v ON v.vec_id = p.vec_id
         |            JOIN c ON c.cluster_id = p.cluster_id, ix),
         |cb AS (SELECT sub, cid, cvec FROM read_parquet('$annOracleRoot/q218/codebook/*.parquet')),
         |ed AS (SELECT rx.vec_id, cb.sub, cb.cid,
         |         sum(${dkDiffSq("rx.rv", "cb.cvec[rx.i - cb.sub * 8]")}) AS d2
         |       FROM rx JOIN cb ON cb.sub = (rx.i - 1) // 8
         |       GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, sub, cid FROM (
         |    SELECT vec_id, sub, cid, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM ed) ec
         |  WHERE rn = 1),
         |cc2 AS (SELECT codes.vec_id, codes.sub, codes.cid, posting.cluster_id
         |        FROM codes JOIN posting USING (vec_id)),
         |jx AS (SELECT unnest(range(1, 9)) AS j),
         |${dkAdcCte(50)},
         |adcp AS (SELECT adc.qid, pr.cluster_id, adc.sub, adc.cid, adc.t, pr.cc
         |         FROM adc JOIN probes pr ON pr.qid = adc.qid),
         |ap AS (SELECT a.qid, cc2.vec_id,
         |         CAST(sum(a.t) AS DECIMAL(28,18))
         |           + CAST(first(a.cc) AS DECIMAL(28,18)) AS approx
         |       FROM cc2 JOIN adcp a ON a.cluster_id = cc2.cluster_id
         |         AND a.sub = cc2.sub AND a.cid = cc2.cid
         |       WHERE a.qid != cc2.vec_id GROUP BY 1, 2),
         |cand AS (SELECT qid, vec_id AS nid FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY approx DESC, vec_id) AS arn FROM ap) ac2
         |  WHERE arn <= 80),
         |${dkRescoreTail(5)}""") { (s, dir) =>
      ivfPqResidualTopKOracle(Tables.embeddings(s, dir), nQueries = 50, k = 5,
        nClusters = 32, nProbe = 16, m = 8, ks = 32, refine = 16)
        .orderBy("qid", "rank")
    },

    // ---- int8-quantized brute-force top-k, ORACLE-CHECKED: the whole
    //      pipeline is relational — per-vector symmetric scale
    //      (max|x|/127), round-to-integer quantize, dequantize, exact
    //      cosine top-k — so DuckDB replays quantization noise and all
    //      (both engines round doubles half-away-from-zero; the
    //      dequantized grid values are identical doubles, and the final
    //      6-dp cosine rounding is the q54 contract). ----
    "q66_quantized_topk" -> QueryDef.sql(
      """WITH s AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings),
        |dq AS (SELECT vec_id,
        |    list_transform(embedding, x -> round(CAST(x AS DOUBLE) / scale) * scale) AS emb
        |  FROM s WHERE scale > 0),
        |q AS (SELECT vec_id, emb FROM dq WHERE vec_id < 50),
        |p AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    round(sum(q.emb[i.i] * e.emb[i.i])
        |      / (sqrt(sum(q.emb[i.i] * q.emb[i.i])) * sqrt(sum(e.emb[i.i] * e.emb[i.i]))), 6) AS cos_sim
        |  FROM q, dq e, (SELECT unnest(range(1, 4097)) AS i) i
        |  WHERE e.vec_id != q.vec_id AND i.i <= len(e.emb)
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, nid, cos_sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
        |      FROM p)
        |SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""") { (s, dir) =>
      cosineTopK(
        dequantizeInt8(quantizeInt8(Tables.embeddings(s, dir))),
        col("vec_id") < 50, k = 5)
        .orderBy("qid", "rank")
    },

    // ---- per-label centroids (the IVF coarse-quantizer building block):
    //      element-wise vector mean via posexplode + decimal-exact sums ----
    "q57_label_centroids" -> QueryDef.sql(
      """SELECT label, i - 1 AS dim,
        |  round(CAST(sum(CAST(embedding[i] AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS centroid
        |FROM embeddings, (SELECT unnest(range(1, 4097)) AS i) t
        |WHERE i <= len(embedding)
        |GROUP BY label, i
        |ORDER BY label, dim""") { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("dim", col("dim").cast("long"))
        .groupBy("label", "dim")
        .agg(round((sum(col("v").cast("decimal(28,12)")).cast("double") / count(lit(1))), 6)
          .as("centroid"))
        .orderBy("label", "dim")
    },

    // ---- Johnson-Lindenstrauss random projection (Achlioptas 2003's
    //      ±1 database-friendly form): sketch every embedding down to
    //      k=16 dims through a deterministic md5-derived sign matrix —
    //      the dim-reduction step that runs BEFORE banding/quantizing
    //      when 100 TB of high-dim vectors make even the sketch passes
    //      expensive. Signs from md5 (engine-identical, well-mixed —
    //      the multiplicative-hash high bit measured structured across
    //      adjacent dims: row-dot 36/64 vs md5's 18/64, distance corr
    //      0.16 vs 0.34 ≈ true random's 0.37 on the test table). ----
    "q117_jl_projection" -> QueryDef.sql(
      """WITH x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS j
        |           FROM embeddings),
        |s AS (SELECT i, j0,
        |        CASE WHEN substring(md5(CAST(i AS VARCHAR) || '_' || CAST(j0 AS VARCHAR)), 1, 1) <= '7'
        |             THEN 1 ELSE -1 END AS sgn
        |      FROM (SELECT unnest(range(0, 16)) AS i) CROSS JOIN (SELECT unnest(range(0, 64)) AS j0)),
        |c AS (SELECT vec_id, s.i,
        |        CAST(round(CAST(v AS DOUBLE) * s.sgn, 9) AS DECIMAL(18,9)) AS contrib
        |      FROM x JOIN s ON s.j0 = x.j - 1)
        |SELECT vec_id, CAST(i AS BIGINT) AS proj_dim,
        |  round(CAST(sum(contrib) AS DOUBLE) / 4.0, 6) AS value
        |FROM c GROUP BY 1, 2 ORDER BY vec_id, proj_dim""") { (s, dir) =>
      jlProject(Tables.embeddingsSpread(s, dir)).orderBy("vec_id", "proj_dim")
    },

    // ---- prototypicality pruning (Sorscher et al. 2022): cosine to the
    //      per-label mean vector ranks examples easy→hard; the bottom
    //      fifth (least prototypical = likely noise/outliers) is flagged.
    //      All sums ride DECIMAL(18,9) so both engines derive identical
    //      scores; rank ties break on vec_id. ----
    "q155_prototype_prune" -> QueryDef.sql(
      s"""WITH $protoOracleCte,
         |s AS (SELECT vec_id, label,
         |        round(dvc / (sqrt(dvv) * sqrt(dcc)), 6) AS proto FROM d),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY label ORDER BY proto, vec_id) AS rk,
         |        count(*) OVER (PARTITION BY label) AS n_label FROM s)
         |SELECT vec_id, CAST(label AS BIGINT) AS label, proto,
         |  CAST(rk AS BIGINT) AS rk, CAST(n_label AS BIGINT) AS n_label,
         |  rk * 5 <= n_label AS prune
         |FROM r ORDER BY label, rk""") { (s, dir) =>
      prototypePrune(Tables.embeddings(s, dir))
    },

    // ---- per-label embedding dispersion: mean squared distance to the
    //      label centroid in CLOSED FORM (‖x‖² − 2⟨x,μ⟩ + ‖μ‖² per row,
    //      then one mean) — the diversity audit that never builds a
    //      pairwise join. ----
    "q156_embedding_dispersion" -> QueryDef.sql(
      s"""WITH $protoOracleCte,
         |sq AS (SELECT vec_id, label,
         |         round(dvv - 2 * dvc + dcc, 9) AS sq FROM d)
         |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
         |  round(CAST(sum(CAST(sq AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
         |    AS dispersion,
         |  round(sqrt(max(d2.dcc)), 6) AS centroid_norm
         |FROM sq JOIN (SELECT label AS l2, max(dcc) AS dcc FROM d GROUP BY 1) d2
         |  ON d2.l2 = sq.label
         |GROUP BY sq.label ORDER BY label""") { (s, dir) =>
      embeddingDispersion(Tables.embeddings(s, dir))
    },

    // ---- k-center greedy coreset: maximally-diverse exemplar selection
    //      (farthest-point rounds). ORACLE-CHECKED since r13: the round
    //      count is FIXED (k = 8), so the greedy unrolls into k−1
    //      relational stages DuckDB replays verbatim (the q110
    //      unrolled-loop pattern) — per-candidate squared distances as
    //      ordered list_reduce folds (bit-identical to the zip_with/
    //      aggregate fold), min over the chosen set (order-free on
    //      identical doubles), 6-dp round, argmax by (d DESC, vec_id).
    //      Plain-Scala replay in SimilaritySpec retained. ----
    "q160_kcenter_coreset" -> QueryDef.sql(dkKcenterSql(8)) { (s, dir) =>
      kcenterCoreset(Tables.embeddings(s, dir))
    },

    // ---- cluster-quality audit: purity + NMI of deterministic k-means
    //      assignments vs labels; no SQL oracle (k-means) — planted
    //      contingencies reference-checked, golden-pinned. ----
    // ---- cluster-quality audit (purity + NMI), ORACLE-CHECKED the
    //      artifact way: k-means + assignment stay golden-pinned; the
    //      persisted (vec_id, cluster_id) relation joins back to the
    //      labels in DuckDB, which replays the contingency, purity, the
    //      9-dp MI/entropy decimal sums, and NMI expression-for-
    //      expression. ----
    "q187_cluster_purity" -> QueryDef.sql(
      s"""WITH a AS (SELECT vec_id, cluster_id
         |  FROM read_parquet('$annOracleRoot/q187/assignments/*.parquet')),
         |cont AS (SELECT a.cluster_id, CAST(e.label AS BIGINT) AS label,
         |           count(*) AS n_cl
         |         FROM a JOIN embeddings e ON e.vec_id = a.vec_id GROUP BY 1, 2),
         |nt AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cont),
         |nc AS (SELECT cluster_id, CAST(sum(n_cl) AS BIGINT) AS n_c FROM cont GROUP BY 1),
         |nl AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cont GROUP BY 1),
         |pu AS (SELECT CAST(sum(n_major) AS BIGINT) AS sum_major FROM (
         |         SELECT cluster_id, max(n_cl) AS n_major FROM cont GROUP BY 1) px),
         |mi AS (SELECT sum(CAST(round(CAST(n_cl AS DOUBLE) / n
         |           * ln(CAST(n_cl AS DOUBLE) * n / (CAST(n_c AS DOUBLE) * n_l)), 9)
         |         AS DECIMAL(18,9))) AS mi
         |       FROM cont JOIN nc USING (cluster_id) JOIN nl USING (label), nt),
         |hc AS (SELECT ln(nn) - CAST(t AS DOUBLE) / nn AS h_c FROM (
         |         SELECT sum(CAST(round(n_c * ln(n_c), 9) AS DECIMAL(18,9))) AS t,
         |           sum(n_c) AS nn FROM nc) hx),
         |hl AS (SELECT ln(nn) - CAST(t AS DOUBLE) / nn AS h_l FROM (
         |         SELECT sum(CAST(round(n_l * ln(n_l), 9) AS DECIMAL(18,9))) AS t,
         |           sum(n_l) AS nn FROM nl) hx)
         |SELECT CAST(8 AS BIGINT) AS k, n AS n_points,
         |  round(CAST(sum_major AS DOUBLE) / n, 6) AS purity,
         |  round(2.0 * CAST(mi AS DOUBLE) / nullif(h_c + h_l, 0.0), 6) AS nmi
         |FROM nt, pu, mi, hc, hl""") { (s, dir) =>
      clusterPurityOracle(Tables.embeddings(s, dir))
    }
  )

  /** Shared DuckDB CTE chain for the prototype family: per-(label, dim)
    * DECIMAL(18,9) centroid means, then per-vector decimal dot products
    * against the centroid (dvc), itself (dvv), and the centroid's own
    * norm² (dcc). Mirrors [[protoBase]] operation-for-operation. */
  private val protoOracleCte =
    """x AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS j,
      |        unnest(embedding) AS v FROM embeddings),
      |cent AS (SELECT label, j,
      |    round(CAST(sum(CAST(round(CAST(v AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE)
      |      / count(*), 9) AS c
      |  FROM x GROUP BY 1, 2),
      |d AS (SELECT x.vec_id, x.label,
      |    CAST(sum(CAST(round(CAST(x.v AS DOUBLE) * c.c, 9) AS DECIMAL(18,9))) AS DOUBLE) AS dvc,
      |    CAST(sum(CAST(round(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE) AS dvv,
      |    CAST(sum(CAST(round(c.c * c.c, 9) AS DECIMAL(18,9))) AS DOUBLE) AS dcc
      |  FROM x JOIN cent c ON c.label = x.label AND c.j = x.j
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-vector frame (vec_id, label, dvv, dvc, dcc) against the
    * per-label DECIMAL-mean centroid.
    *
    * Scale shape: the centroid build is the ONLY corpus explode —
    * posexplode → groupBy(label, dim) collapses to labels × dim cells
    * under map-side combine; scoring then joins the labels-sized
    * centroid table broadcast and folds IN-ROW (zip_with + decimal
    * aggregate), so the corpus itself never explodes or re-shuffles.
    * Determinism: every sum is an order-free DECIMAL(18,9) fold of
    * 9-dp-rounded terms (the q117 discipline); divisions and sqrt are
    * single correctly-rounded IEEE ops. */
  private def protoBase(embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("label").cast("long").as("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .localCheckpoint(eager = false) // consumers: centroid build + scoring
    val decSum9 = (terms: String) =>
      s"CAST(aggregate($terms, CAST(0 AS DECIMAL(28,9)), (acc, t) -> CAST(acc + t AS DECIMAL(28,9))) AS DOUBLE)"
    val cent = e.select(col("label"), posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(round(sum(expr("CAST(round(v, 9) AS DECIMAL(18,9))")).cast("double")
        / count(lit(1)), 9).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cemb"))
      .withColumn("dcc", expr(
        decSum9("zip_with(cemb, cemb, (x, y) -> CAST(round(x * y, 9) AS DECIMAL(18,9)))")))
    e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        expr(decSum9(
          "zip_with(emb, cemb, (x, y) -> CAST(round(x * y, 9) AS DECIMAL(18,9)))"))
          .as("dvc"),
        expr(decSum9(
          "zip_with(emb, emb, (x, y) -> CAST(round(x * y, 9) AS DECIMAL(18,9)))"))
          .as("dvv"),
        col("dcc"))
  }

  /** Prototypicality pruning: per-label cosine to the label centroid,
    * ranked ascending (least prototypical first); `prune` flags the
    * bottom 1/5 via all-integer arithmetic (rk·5 ≤ n). */
  def prototypePrune(embeddings: DataFrame): DataFrame = {
    val w = Window.partitionBy("label").orderBy(col("proto"), col("vec_id"))
    protoBase(embeddings)
      .select(col("vec_id"), col("label"),
        round(col("dvc") / (sqrt(col("dvv")) * sqrt(col("dcc"))), 6).as("proto"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n_label",
        count(lit(1)).over(Window.partitionBy("label")).cast("long"))
      .withColumn("prune", col("rk") * 5 <= col("n_label"))
      .orderBy("label", "rk")
  }

  /** Per-label dispersion: mean squared distance to the label centroid,
    * assembled per row from the three dot products (closed form — no
    * pairwise join), then one DECIMAL mean per label. */
  def embeddingDispersion(embeddings: DataFrame): DataFrame =
    protoBase(embeddings)
      .select(col("label"),
        round(col("dvv") - lit(2) * col("dvc") + col("dcc"), 9).as("sq"),
        col("dcc"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(sum(col("sq").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 6).as("dispersion"),
        round(sqrt(max(col("dcc"))), 6).as("centroid_norm"))
      .orderBy("label")

  /** K-center greedy (farthest-point) coreset selection — Gonzalez 1985,
    * the diversity-maximizing complement of prototypicality pruning
    * (q155 keeps the typical; this keeps the SPREAD): seed with the
    * lowest vec_id, then `k`−1 rounds each select the point farthest
    * (squared euclidean) from the chosen set. The classic 2-approximate
    * k-center cover, used to pick maximally-diverse exemplars or
    * evaluation probes from an embedded corpus.
    *
    * Scale shape: the canonical algorithm is inherently k rounds; each
    * round is ONE narrow pass over the barrier-pinned corpus (chosen
    * set rides a one-row broadcast array, min-distance is an in-row
    * fold) plus a one-row argmax — never a pairwise join, never
    * driver-side vectors. State after round i is i rows, eagerly
    * checkpointed so lineage stays flat. Determinism: in-row folds run
    * in fixed array order, `least`/`max` are order-free, the argmax
    * tie-breaks on vec_id via the struct max, distances round to 6
    * before comparison. No SQL oracle (iterative); SimilaritySpec
    * replays the greedy in plain Scala, and the result is golden-pinned. */
  def kcenterCoreset(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val e = embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .localCheckpoint(eager = false) // consumers: seed + k−1 scoring passes
    var chosen = e.orderBy("vec_id").limit(1)
      .select(lit(1L).as("sel_round"), col("vec_id"), col("emb").as("cemb"),
        lit(0.0).as("sq_dist"))
      .localCheckpoint(eager = true)
    val d2 =
      "aggregate(zip_with(emb, c.cemb, (x, y) -> (x - y) * (x - y)), 0D, (acc, t) -> acc + t)"
    (2 to k).foreach { i =>
      val cs = chosen.agg(
        sort_array(collect_list(struct(col("vec_id"), col("cemb")))).as("cs"))
      val next = e.crossJoin(broadcast(cs))
        // chosen points sit at distance 0 but must never be re-picked —
        // when every remaining point is a duplicate of the set (max d =
        // 0), the argmax must still land on an UNCHOSEN point
        .filter(expr("not exists(cs, c -> c.vec_id = vec_id)"))
        .select(col("vec_id"), col("emb"), expr(
          s"round(aggregate(cs, CAST('Infinity' AS DOUBLE), (acc, c) -> least(acc, $d2)), 6)")
          .as("d"))
        .agg(max(struct(col("d"), (-col("vec_id")).as("nid"),
          col("vec_id").as("vid"), col("emb").as("vemb"))).as("m"))
        .select(lit(i.toLong).as("sel_round"), col("m.vid").as("vec_id"),
          col("m.vemb").as("cemb"), col("m.d").as("sq_dist"))
      chosen = chosen.unionByName(next).localCheckpoint(eager = true)
    }
    chosen.select(col("sel_round"), col("vec_id"), col("sq_dist"))
      .orderBy("sel_round")
  }

  /** q222's oracle: q51's 3-gram Jaccard pair CTE restricted to the
    * dual-modality id set, q55/q79's exact cosine pair CTE, one pair-key
    * full outer join, per-class counts + min example. */
  private[graft] def dkQ222Sql: String =
    s"""WITH ev AS (SELECT DISTINCT vec_id FROM embeddings),
       |w AS (SELECT doc_id, list_filter(string_split(trim(text),' '), x -> x != '') AS ws
       |      FROM documents JOIN ev ON ev.vec_id = doc_id),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws)-1)]) AS sh
       |       FROM w WHERE len(ws) >= 3),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |lex AS (SELECT d1, d2 FROM com
       |        JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
       |        WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.6),
       |sem AS (SELECT v1 AS d1, v2 AS d2 FROM ($cosinePairsOracleCte
       |  ) WHERE cos_sim >= 0.4),
       |cls AS (SELECT coalesce(lex.d1, sem.d1) AS d1,
       |               coalesce(lex.d2, sem.d2) AS d2,
       |    CASE WHEN lex.d1 IS NOT NULL AND sem.d1 IS NOT NULL THEN 'both'
       |         WHEN lex.d1 IS NOT NULL THEN 'lexical_only'
       |         ELSE 'semantic_only' END AS family
       |  FROM lex FULL OUTER JOIN sem ON lex.d1 = sem.d1 AND lex.d2 = sem.d2)
       |SELECT family, n_pairs, mn.d1 AS example_d1, mn.d2 AS example_d2
       |FROM (SELECT family, CAST(count(*) AS BIGINT) AS n_pairs,
       |        min({'d1': d1, 'd2': d2}) AS mn
       |      FROM cls GROUP BY family)
       |ORDER BY family""".stripMargin

  /** Ordered dot-product fold: list_reduce ≡ graft_dot's left-to-right
    * accumulation, so the double sums are bit-identical across engines. */
  private def dkDotFold(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, len($a) + 1), j -> $a[j] * $b[j])),
       |      (acc, t) -> acc + t)""".stripMargin

  /** DuckDB replay of [[semDedupFromCentroids]] (q136) from the persisted
    * centroid artifact: normalization + assignment as ordered folds,
    * probed-cluster ranking, within-cluster candidate edges, q79's
    * recursive-CTE closure for components, farthest-from-centroid keep. */
  private[graft] def dkSemDedupSql(threshold: Double, probes: Int): String =
    s"""WITH RECURSIVE nn AS MATERIALIZED (
       |  SELECT vec_id, list_transform(emb, x -> x / nrm) AS emb
       |  FROM (SELECT vec_id, emb, sqrt(${dkDotFold("emb", "emb")}) AS nrm
       |        FROM (SELECT vec_id,
       |                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |              FROM embeddings))),
       |cent AS MATERIALIZED (SELECT cluster_id, cemb
       |  FROM read_parquet('$annOracleRoot/q136/centroids/*.parquet')),
       |pr AS MATERIALIZED (
       |  SELECT vec_id, emb, cluster_id, c_cos, rn FROM (
       |    SELECT nn.vec_id, nn.emb, c.cluster_id,
       |      ${dkDotFold("nn.emb", "c.cemb")} AS c_cos,
       |      row_number() OVER (PARTITION BY nn.vec_id
       |        ORDER BY ${dkDotFold("nn.emb", "c.cemb")} DESC, c.cluster_id) AS rn
       |    FROM nn, cent c)
       |  WHERE rn <= $probes),
       |edges AS MATERIALIZED (
       |  SELECT v1, v2 FROM (
       |    SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
       |      round(${dkDotFold("a.emb", "b.emb")}, 6) AS cos_sim
       |    FROM pr a JOIN pr b
       |      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
       |  WHERE cos_sim >= $threshold),
       |ed2 AS MATERIALIZED (
       |  SELECT v1 AS a, v2 AS b FROM edges
       |  UNION SELECT v2, v1 FROM edges),
       |reach AS (
       |  SELECT a, b FROM ed2
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN ed2 e ON r.b = e.a
       |  WHERE r.a != e.b),
       |comps AS MATERIALIZED (
       |  SELECT m.a AS vec_id, least(m.a, min(r.b)) AS group_id
       |  FROM (SELECT DISTINCT a FROM ed2) m JOIN reach r ON r.a = m.a
       |  GROUP BY m.a),
       |wc AS MATERIALIZED (
       |  SELECT comps.vec_id, comps.group_id, pr.c_cos
       |  FROM comps JOIN pr ON pr.vec_id = comps.vec_id AND pr.rn = 1),
       |kp AS (SELECT group_id, vec_id AS keeper FROM (
       |    SELECT group_id, vec_id, row_number() OVER (
       |      PARTITION BY group_id ORDER BY c_cos, vec_id) AS krn FROM wc)
       |  WHERE krn = 1)
       |SELECT wc.vec_id, wc.group_id,
       |  round(wc.c_cos, 6) AS cos_to_centroid,
       |  wc.vec_id = kp.keeper AS is_keeper
       |FROM wc JOIN kp ON kp.group_id = wc.group_id
       |ORDER BY wc.vec_id""".stripMargin

  /** DuckDB replay of [[kcenterCoreset]] (q160): the fixed k unrolls the
    * greedy into k−1 stages. Each stage mirrors the Spark round exactly —
    * the per-(point, center) squared distance is an ORDERED left fold
    * over dims (list_reduce ≡ the zip_with/aggregate fold, so the double
    * sums are bit-identical), the min over the chosen set is order-free
    * on identical doubles, the 6-dp round and the (d DESC, vec_id)
    * argmax then replay engine-independently. */
  private[graft] def dkKcenterSql(k: Int): String = {
    val d2 = (c: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, len(e.emb) + 1),
         |        j -> (e.emb[j] - $c.cemb[j]) * (e.emb[j] - $c.cemb[j]))),
         |      (acc, t) -> acc + t)""".stripMargin
    val head =
      s"""e AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |ch1 AS MATERIALIZED (SELECT 1 AS sel_round, vec_id, emb AS cemb, 0.0 AS sq_dist
         |  FROM e ORDER BY vec_id LIMIT 1)""".stripMargin
    // every stage CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // stage i references stage i−1 three times — inlining would expand
    // the chain 3^(k−1)-fold (measured: minutes at sf0.1 vs ~1 s
    // materialized)
    val stages = (2 to k).map { i =>
      s"""r$i AS MATERIALIZED (SELECT e.vec_id, any_value(e.emb) AS emb,
         |    round(min(${d2("c")}), 6) AS d
         |  FROM e, ch${i - 1} c
         |  WHERE e.vec_id NOT IN (SELECT vec_id FROM ch${i - 1})
         |  GROUP BY e.vec_id),
         |c$i AS MATERIALIZED (SELECT $i AS sel_round, vec_id, emb AS cemb, d AS sq_dist
         |  FROM r$i ORDER BY d DESC, vec_id LIMIT 1),
         |ch$i AS MATERIALIZED (SELECT * FROM ch${i - 1} UNION ALL SELECT * FROM c$i)"""
        .stripMargin
    }
    s"WITH ${(head +: stages).mkString(",\n")}\n" +
      s"SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id, sq_dist FROM ch$k ORDER BY sel_round"
  }

  /** Exact brute-force cosine top-k: rows of `embeddings` matching
    * `isQuery` are ranked against the whole corpus. The query side is
    * broadcast; the corpus side streams through its scan partitions and the
    * per-query top-k is the only shuffle. */
  def cosineTopK(embeddings: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    broadcast(q).join(e, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Margin scores from a precomputed kNN relation (qid, nid, cos_sim,
    * rank) — rank 1 = nearest. For each vector's top-1 neighbor:
    * margin = cos / ((mean kNN cos of q + mean kNN cos of n) / 2).
    * Works identically over the exact kNN (q54 machinery) or LSH
    * candidates (q56) — candidate generation is the only thing that
    * changes at 100 TB. Determinism: the kNN mean sums 6-dp-rounded
    * cosines through DECIMAL (exact, order-free), and the margin divides
    * already-rounded doubles, so both engines see identical IEEE inputs.
    *
    * Scale shape: one barrier on the kNN frame (two consumers: means +
    * top-1); the mean/top-1 frames are n-row (one per vector), so the
    * joins shuffle fixed-width rows bounded by the corpus vector count. */
  def marginScoresFrom(knn: DataFrame, k: Int): DataFrame = {
    val pinned = knn.localCheckpoint(eager = false)
    val means = pinned.filter(col("rank") <= k).groupBy("qid")
      .agg(round(sum(col("cos_sim").cast("decimal(18,6)")).cast("double")
        / count(lit(1)), 6).as("knn_mean"))
    val top1 = pinned.filter(col("rank") === 1).select("qid", "nid", "cos_sim")
    top1.join(means, Seq("qid"))
      .withColumnRenamed("knn_mean", "knn_mean_q")
      .join(means.select(col("qid").as("nid"), col("knn_mean").as("knn_mean_n")),
        Seq("nid"))
      .select(col("qid"), col("nid"), col("cos_sim"),
        col("knn_mean_q"), col("knn_mean_n"),
        round(col("cos_sim") / ((col("knn_mean_q") + col("knn_mean_n")) / 2), 6)
          .as("margin"))
  }

  /** Exact-kNN face of [[marginScoresFrom]]: every vector is a query
    * against the whole corpus — the O(n²) oracle baseline. */
  def marginScores(embeddings: DataFrame, k: Int): DataFrame =
    marginScoresFrom(cosineTopK(embeddings, lit(true), k), k)

  /** Int8 scalar quantization of the embedding column: per-vector
    * symmetric scale (max|x| / 127), elements stored as TINYINT. At 100 TB
    * this cuts the similarity scan's bytes ~4× (float32 → int8 + one
    * float scale per vector); dequantized cosine stays within ~1% of exact
    * for unit-scale embeddings (SimilaritySpec measures the top-k overlap).
    * Output: (vec_id, qemb array<tinyint>, scale double). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      .withColumn("scale",
        expr("aggregate(emb, 0D, (acc, x) -> greatest(acc, abs(x))) / 127.0"))
      // an all-zero embedding has scale 0 and x/scale = NaN; drop it
      // explicitly rather than propagate NaN cosines (the
      // filter(cnorm > 0) discipline of roundedUnitCentroids)
      .filter(col("scale") > 0)
      .select(col("vec_id"),
        expr("transform(emb, x -> CAST(round(x / scale) AS TINYINT))").as("qemb"),
        col("scale"))

  /** Reverse of [[quantizeInt8]]: (vec_id, embedding array<double>). */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"),
      expr("transform(qemb, q -> CAST(q AS DOUBLE) * scale)").as("embedding"))

  /** K-means centroids over the (normalized) embedding column, computed
    * DataFrame-iteratively: deterministic seeds (lowest vec_ids), then
    * `iters` rounds of assign-to-nearest (broadcast centroids) and
    * element-wise mean recompute (posexplode → avg → re-assemble).
    *
    * Scale notes: each iteration is one narrow pass over the corpus plus a
    * groupBy(cluster, dim) shuffle of k×dim cells — independent of corpus
    * size after the partial aggregation. Seeds/means are deterministic, so
    * re-runs converge identically. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = withNorm(embeddings)
      .select(col("vec_id"),
        expr("transform(emb, x -> x / norm)").as("emb")) // unit vectors
      .cache()
    var centroids = e.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster_id"), col("emb").as("cemb"))
      .cache()
    (1 to iters).foreach { _ =>
      val assigned = assignClusters(e, centroids)
      val next = assigned
        .select(col("cluster_id"), posexplode(col("emb")).as(Seq("dim", "v")))
        .groupBy("cluster_id", "dim")
        .agg(avg(col("v")).as("v"))
        .groupBy("cluster_id")
        .agg(expr("transform(array_sort(collect_list(struct(dim, v))), s -> s.v)")
          .as("cemb"))
        .cache()
      centroids.unpersist()
      centroids = next
    }
    // k × dim rows: pin the result eagerly and release the unit-vector
    // cache and the last iteration's cache — the no-leak discipline the
    // CC operators follow (cached corpus vectors otherwise outlive the
    // call for the session's lifetime)
    val result = centroids.localCheckpoint(eager = true)
    centroids.unpersist(); e.unpersist()
    result
  }

  /** Cluster-quality audit (q187): deterministic k-means assignments vs
    * the label column — PURITY (majority-label mass) and NMI (normalized
    * mutual information; purity alone is gamed by many tiny clusters,
    * NMI is not). The eval that says whether embedding clusters mean
    * anything before they drive curation (q136 SemDeDup, q65 IVF).
    *
    * Everything after the contingency aggregation is (k × labels)-sized;
    * MI/entropy terms are 9-dp-rounded ln expressions summed through
    * DECIMAL (the q163/q122 discipline) over exact integer counts, so
    * the statistics are engine-identical given the assignments — which
    * are themselves deterministic (lowest-id seeds, fixed rounds). No
    * SQL oracle (k-means); SimilaritySpec pins planted separable and
    * mixed contingencies against a plain-Scala reference, and the
    * result is golden-pinned. */
  def clusterPurity(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(embeddings, k, iters)
    val unit = withNorm(embeddings)
      .select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
    val assigned = assignClusters(unit, cents).select("vec_id", "cluster_id")
    clusterPurityFrom(assigned, embeddings, k)
  }

  /** q187's declared face — [[clusterPurity]] with the assignment table
    * persisted as an oracle artifact (the q219/q65 pattern): k-means and
    * the nearest-centroid assignment stay golden-pinned, but the entire
    * evaluation — contingency, purity, the 9-dp-rounded MI/entropy sums,
    * NMI — is replayed by DuckDB from the persisted (vec_id, cluster_id)
    * relation joined back to the labels. */
  def clusterPurityOracle(embeddings: DataFrame, k: Int = 8,
      iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(embeddings, k, iters)
    val unit = withNorm(embeddings)
      .select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
    val assigned = persistArtifact("q187", "assignments",
      assignClusters(unit, cents).select("vec_id", "cluster_id"))
    clusterPurityFrom(assigned, embeddings, k)
  }

  /** The statistics of [[clusterPurity]] over a pre-built assignment
    * relation — shared by the in-memory and artifact faces. */
  private def clusterPurityFrom(assigned: DataFrame, embeddings: DataFrame,
      k: Int): DataFrame = {
    val cont = assigned
      .join(embeddings.select(col("vec_id"), col("label").cast("long").as("label")),
        Seq("vec_id"))
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("n_cl"))
      .localCheckpoint(eager = false) // consumers: total/marginals/purity/MI
    val nTot = cont.agg(sum(col("n_cl")).as("n"))
    val nC = cont.groupBy("cluster_id").agg(sum(col("n_cl")).as("n_c"))
      .localCheckpoint(eager = false) // consumers: MI join + entropy
    val nL = cont.groupBy("label").agg(sum(col("n_cl")).as("n_l"))
      .localCheckpoint(eager = false)
    val purity = cont.groupBy("cluster_id").agg(max(col("n_cl")).as("n_major"))
      .agg(sum(col("n_major")).as("sum_major"))
    val mi = cont.join(nC, Seq("cluster_id")).join(nL, Seq("label"))
      .crossJoin(broadcast(nTot))
      .agg(sum(expr(
        """CAST(round(CAST(n_cl AS DOUBLE) / n
          |  * ln(CAST(n_cl AS DOUBLE) * n / (CAST(n_c AS DOUBLE) * n_l)), 9)
          |AS DECIMAL(18,9))""".stripMargin)).as("mi"))
    def entropyOf(m: DataFrame, ccol: String, out: String): DataFrame = m
      .agg(sum(expr(s"CAST(round($ccol * ln($ccol), 9) AS DECIMAL(18,9))")).as("t"),
        sum(col(ccol)).as("nn"))
      .select((log(col("nn")) - col("t").cast("double") / col("nn")).as(out))
    nTot.crossJoin(broadcast(purity)).crossJoin(broadcast(mi))
      .crossJoin(broadcast(entropyOf(nC, "n_c", "h_c")))
      .crossJoin(broadcast(entropyOf(nL, "n_l", "h_l")))
      .select(lit(k.toLong).as("k"), col("n").as("n_points"),
        round(col("sum_major").cast("double") / col("n"), 6).as("purity"),
        round(lit(2.0) * col("mi").cast("double")
          / nullif(col("h_c") + col("h_l"), lit(0.0)), 6).as("nmi"))
  }

  /** Nearest-centroid assignment: (vec_id, emb, cluster_id, cos_to_centroid). */
  private def assignClusters(unitVecs: DataFrame, centroids: DataFrame): DataFrame = {
    // nearest-centroid argmax as an IN-ROW fold over a one-row broadcast
    // centroid array (the q155 pattern). The previous window form
    // exploded (vec × cluster) rows — each carrying the FULL emb array —
    // through a per-vec_id sort shuffle: n × nClusters × rowWidth bytes,
    // measured 3.0 GB spill per pass at the r15 100× decade (200k
    // vectors × 32 clusters) and ∝ nClusters (11.3 GB at the √n dial).
    // The fold shuffles nothing and its cost is the same n × nClusters
    // dot products, now inside one codegen'd projection. Assignments are
    // bit-identical to the window form: same graft_dot doubles, and the
    // strict `>` keeps the FIRST (lowest cluster_id — sort_array orders
    // the struct by its leading field) among score ties, exactly the
    // (c_cos DESC, cluster_id ASC) rank-1 row — so the q187 persisted
    // assignment artifact and every k-means golden pin are unchanged.
    val cents = centroids.agg(sort_array(
      collect_list(struct(col("cluster_id"), col("cemb")))).as("cents"))
    unitVecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("emb"),
        expr("""aggregate(
               |  transform(cents, c -> struct(c.cluster_id AS cluster_id,
               |                               graft_dot(emb, c.cemb) AS score)),
               |  struct(CAST(-1 AS INT) AS cluster_id,
               |         CAST('-Infinity' AS DOUBLE) AS score),
               |  (acc, s) -> CASE WHEN s.score > acc.score THEN s ELSE acc END)
               |""".stripMargin).as("best"))
      .select(col("vec_id"), col("emb"), col("best.cluster_id").as("cluster_id"),
        col("best.score").as("c_cos"))
      // Degenerate-input guard (r15 review): with ZERO centroids (or
      // all-NaN scores) the fold's seed survives and would emit a
      // cluster_id = -1 row, whereas the pre-r15 window form emitted no
      // assignment at all — drop the sentinel so downstream grouping
      // never sees a phantom cluster. No-op on any nonempty codebook.
      .filter(col("cluster_id") >= 0)
  }

  /** IVF approximate top-k: corpus vectors index into their nearest
    * centroid's posting list; a query probes only its `nProbe` nearest
    * centroids' lists and exact-ranks those candidates. Pair volume drops
    * from queries × corpus to queries × (corpus × nProbe / k) on balanced
    * clusters — the standard recall/cost dial. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nClusters: Int, nProbe: Int, kmeansIters: Int = 3): DataFrame =
    ivfTopKWith(embeddings,
      kmeansCentroids(embeddings, nClusters, kmeansIters), nQueries, k, nProbe)

  /** [[ivfTopK]] against CALLER-SUPPLIED centroids (cluster_id, cemb) —
    * the streaming-refresh entry point: feed it the latest means from
    * [[graft.streaming.Streams.incrementalCentroids]] (via
    * `Streams.latestCentroids`) and the IVF index re-centers without a
    * batch k-means re-run. Centroids are re-normalized here so assignment
    * is true cosine — raw dot against non-unit centroids (e.g. streamed
    * means of raw embeddings) would bias every vector toward the
    * largest-norm centroid. Zero-norm centroids (empty clusters) drop. */
  def ivfTopKWith(embeddings: DataFrame, centroids: DataFrame,
                  nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    graft.functions.VectorExpressions.register(centroids.sparkSession)
    val cUnit = centroids
      .withColumn("cnorm", sqrt(expr("graft_dot(cemb, cemb)")))
      .filter(col("cnorm") > 0)
      .select(col("cluster_id"),
        expr("transform(cemb, x -> x / cnorm)").as("cemb"))
    val e = withNorm(embeddings).cache()
    val unit = e.select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
    val posting = assignClusters(unit, cUnit)
      .select(col("vec_id").as("nid"), col("cluster_id"))
    val probes = unit.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cUnit))
      .select(col("vec_id").as("qid"), col("cluster_id"),
        dot("emb", "cemb").as("c_cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("c_cos").desc, col("cluster_id"))))
      .filter(col("rn") <= nProbe)
      .select("qid", "cluster_id")
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val cand = probes.join(posting, "cluster_id")
      .filter(col("qid") =!= col("nid"))
      .dropDuplicates("qid", "nid")
      .join(broadcast(qSide), "qid")
      .join(e.select(col("vec_id").as("nid"), col("emb"), col("norm")), "nid")
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .select(col("qid"), col("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---------------------------------------------------------------------
  // q204: product-quantization ADC top-k (Jégou, Douze & Schmid,
  // "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
  // ---------------------------------------------------------------------

  /** Per-subspace k-means codebook: the 64-dim unit vector splits into
    * `m` contiguous subvectors; each subspace trains its own `ks`
    * centroids (deterministic seeds = the lowest vec_ids' subvectors,
    * L2 assignment, element-wise mean recompute — the
    * [[kmeansCentroids]] discipline per subspace). Output:
    * (sub, cid, cvec) — m × ks rows, always broadcastable (the whole
    * point of PQ: the "index" is m·ks·(dim/m) floats ≈ the size of ONE
    * batch of vectors, regardless of corpus size). */
  def pqCodebook(embeddings: DataFrame, m: Int = 8, ks: Int = 16,
      iters: Int = 3): DataFrame =
    pqCodebookOf(withNorm(embeddings)
      .select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb")),
      m, ks, iters)

  /** [[pqCodebook]] over an already-prepared (vec_id, emb) frame — the
    * residual variant trains on (unit − coarse centroid) vectors, which
    * must NOT be re-normalized (a residual's length IS its information). */
  def pqCodebookOf(vectors: DataFrame, m: Int, ks: Int,
      iters: Int): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val subs = pqSubvectors(vectors.select(col("vec_id"), col("emb")), m)
      .cache()
    var cb = subs.filter(col("vec_id") < ks)
      .select(col("sub"), col("vec_id").cast("int").as("cid"),
        col("sv").as("cvec"))
      .cache()
    (1 to iters).foreach { _ =>
      val assigned = pqAssign(subs, cb)
      val next = assigned
        .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("dim", "v")))
        .groupBy("sub", "cid", "dim").agg(avg(col("v")).as("v"))
        .groupBy("sub", "cid")
        .agg(expr("transform(array_sort(collect_list(struct(dim, v))), s -> s.v)")
          .as("cvec"))
        .cache()
      cb.unpersist()
      cb = next
    }
    val result = cb.localCheckpoint(eager = true)
    cb.unpersist(); subs.unpersist()
    result
  }

  /** (vec_id, sub, sv): the m subvector slices of each unit vector. */
  private def pqSubvectors(unit: DataFrame, m: Int): DataFrame =
    unit.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${m - 1}), s -> named_struct('sub', s,
           |  'sv', slice(emb, s * CAST(size(emb) / $m AS INT) + 1,
           |              CAST(size(emb) / $m AS INT))))""".stripMargin)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))

  /** Nearest sub-centroid per (vec_id, sub) by squared L2 — computed as
    * ∥sv∥² − 2⟨sv,cv⟩ + ∥cv∥² via the codegen'd graft_dot; argmin is an
    * IN-ROW fold over the per-sub codebook array (the assignClusters
    * move, r15): the previous broadcast-join form exploded
    * (vec, sub) × ks rows — each carrying sv — into a corpus-sized hash
    * aggregation, measured 3.0 GB of agg spill at the 100× decade
    * (200k × 8 subs × 32 cids); the fold keeps the frame at n × m rows
    * and shuffles nothing. Bit-identical to the old form: the d2
    * arithmetic keeps its exact association ((∥sv∥² − 2⟨sv,cv⟩) + ∥cv∥²,
    * with ∥sv∥²/∥cv∥² precomputed — same values, same order), and the
    * strict `<` keeps the FIRST (lowest cid — sort_array on the leading
    * struct field) among d2 ties, exactly min(struct(d2, cid)). */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.groupBy("sub")
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cands0"))
      .select(col("sub"), expr(
        """transform(cands0, c -> struct(c.cid AS cid, c.cvec AS cvec,
          |  graft_dot(c.cvec, c.cvec) AS cvv))""".stripMargin).as("cands"))
    subs.join(broadcast(cbArr), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"),
        expr("""aggregate(
               |  transform(cands, c -> struct(c.cid AS cid,
               |    graft_dot(sv, sv) - 2 * graft_dot(sv, c.cvec) + c.cvv AS d2)),
               |  struct(CAST(-1 AS INT) AS cid, CAST('Infinity' AS DOUBLE) AS d2),
               |  (acc, s) -> CASE WHEN s.d2 < acc.d2 THEN s ELSE acc END)
               |""".stripMargin).as("best"))
      .select(col("vec_id"), col("sub"), col("best.cid").as("cid"), col("sv"))
      // Same degenerate-input guard as assignClusters: an empty per-sub
      // codebook (or all-NaN d2) leaves the fold's cid = -1 seed — the
      // pre-r15 join form emitted nothing there. No-op when ks >= 1.
      .filter(col("cid") >= 0)
  }

  /** PQ-encode the corpus: (vec_id, codes array<int> of length m) —
    * 4-bit-per-subspace codes at the default ks=16, a 64× compression
    * of the 64-dim float vectors. */
  def pqEncode(embeddings: DataFrame, codebook: DataFrame, m: Int = 8): DataFrame =
    pqEncodeOf(withNorm(embeddings)
      .select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb")),
      codebook, m)

  /** [[pqEncode]] over an already-prepared (vec_id, emb) frame (no
    * normalization — see [[pqCodebookOf]]). */
  def pqEncodeOf(vectors: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    pqAssign(pqSubvectors(vectors.select(col("vec_id"), col("emb")), m), codebook)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cid))), x -> x.cid)")
        .as("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    * m×ks lookup table of sub-dot-products against the broadcast
    * codebook, every corpus vector's approximate cosine is the sum of m
    * table lookups over its codes (9-dp DECIMAL-rounded terms so the
    * sum is order-free), the top `k·refine` approximate candidates per
    * query get EXACT graft_dot re-scoring, and the final top-k ranks on
    * the exact value — the q55b/q65 candidates-then-exact-re-score
    * contract at PQ's scan cost (m byte lookups per corpus vector
    * instead of a dim-wide float dot; the corpus-side state is the
    * codes column, 8 bytes/vector at the defaults). Output matches
    * q65's (qid, nid, cos_sim, rank). */
  def pqTopK(embeddings: DataFrame, nQueries: Int, k: Int, m: Int = 8,
      ks: Int = 16, refine: Int = 4, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val cb = pqCodebook(embeddings, m, ks, iters)
    val e = withNorm(embeddings).cache()
    val unit = e.select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
    val codes = pqEncode(embeddings, cb, m)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
    // ADC tables: nQueries × m × ks rows — broadcast
    val adc = pqSubvectors(unit.filter(col("vec_id") < nQueries), m)
      .join(cb, Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        expr("CAST(round(graft_dot(sv, cvec), 9) AS DECIMAL(18,9))").as("t"))
    val approx = codes.join(broadcast(adc), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("t")).as("approx"))
    val wa = Window.partitionBy("qid").orderBy(col("approx").desc, col("vec_id"))
    val cand = approx.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .join(broadcast(qSide), "qid")
      .join(e.select(col("vec_id").as("nid"), col("emb"), col("norm")), "nid")
      .select(col("qid"), col("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ top-k (q205) — the two quantizers composed, the standard
    * billion-scale ANN layout (FAISS IVFPQ): the k-means COARSE
    * quantizer routes each vector into a posting list (q65's machinery)
    * and PQ codes stand in for the vectors INSIDE the lists (q204's),
    * so a query ADC-scores only its `nProbe` lists' candidates and
    * exact-re-scores the top k·refine survivors. At 100 TB the corpus
    * side is (cluster_id + m codes) per vector — the float embeddings
    * are never read after indexing except for the k·refine re-score
    * rows, and scan cost per query is (corpus·nProbe/nClusters) code
    * lookups instead of a full ADC pass (q204) or a full float pass
    * (q54). Residual-free variant (codes quantize the vectors
    * themselves, not the residuals): simpler, and the exact re-score
    * step absorbs the accuracy difference the residual trick buys. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int, k: Int,
      nClusters: Int = 8, nProbe: Int = 3, m: Int = 8, ks: Int = 32,
      refine: Int = 16, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val e = withNorm(embeddings).cache()
    val unit = e.select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
      .localCheckpoint(eager = false) // consumers: posting, codes, probes, ADC
    val coarse = kmeansCentroids(embeddings, nClusters, iters)
    val cUnit = coarse
      .withColumn("cnorm", sqrt(expr("graft_dot(cemb, cemb)")))
      .filter(col("cnorm") > 0)
      .select(col("cluster_id"), expr("transform(cemb, x -> x / cnorm)").as("cemb"))
    val posting = assignClusters(unit, cUnit)
      .select(col("vec_id"), col("cluster_id"))
    val cb = pqCodebook(embeddings, m, ks, iters)
    val codes = pqEncode(embeddings, cb, m)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(posting, Seq("vec_id")) // (vec_id, sub, cid, cluster_id)
    val probes = unit.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cUnit))
      .select(col("vec_id").as("qid"), col("cluster_id"),
        dot("emb", "cemb").as("c_cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("c_cos").desc, col("cluster_id"))))
      .filter(col("rn") <= nProbe)
      .select("qid", "cluster_id")
    val adc = pqSubvectors(unit.filter(col("vec_id") < nQueries), m)
      .join(cb, Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        expr("CAST(round(graft_dot(sv, cvec), 9) AS DECIMAL(18,9))").as("t"))
      // attach each query's probed lists: (qid, cluster_id, sub, cid, t) —
      // still nQueries × nProbe × m × ks, broadcast-sized
      .join(probes, Seq("qid"))
    val approx = codes.join(broadcast(adc), Seq("cluster_id", "sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("t")).as("approx"))
    val wa = Window.partitionBy("qid").orderBy(col("approx").desc, col("vec_id"))
    val cand = approx.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .join(broadcast(qSide), "qid")
      .join(e.select(col("vec_id").as("nid"), col("emb"), col("norm")), "nid")
      .select(col("qid"), col("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Residual IVF-PQ top-k (q218) — [[ivfPqTopK]] with the FAISS residual
    * trick: PQ codes quantize (unit − assigned coarse centroid) instead of
    * the unit vector itself. Residuals concentrate near 0 (the coarse
    * quantizer has already explained the centroid component), so the same
    * m×ks code budget spends its resolution on the informative part and
    * the ADC approximation tightens:
    *   q·x = q·(c + r) = q·c + q·r ≈ c_cos + Σ_sub ADC_sub(code_sub)
    * where c_cos (the query-to-centroid dot) is EXACT — it is already
    * computed per probed list by the routing stage and rides the
    * broadcast probes frame, so the only approximation left is the
    * residual's, which is the smaller term. Same 100 TB shape as q205:
    * corpus side is (cluster_id + m codes) per vector, scan cost per
    * query is the probed lists' code lookups, floats touched only for
    * the k·refine exact re-score. Both ADC terms are 9-dp DECIMAL so the
    * candidate score is an order-free sum. */
  def ivfPqResidualTopK(embeddings: DataFrame, nQueries: Int, k: Int,
      nClusters: Int = 8, nProbe: Int = 3, m: Int = 8, ks: Int = 32,
      refine: Int = 16, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    graft.functions.VectorExpressions.register(spark)
    val e = withNorm(embeddings).cache()
    val unit = e.select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
      .localCheckpoint(eager = false) // consumers: posting, residuals, probes, ADC
    val coarse = kmeansCentroids(embeddings, nClusters, iters)
    val cUnit = coarse
      .withColumn("cnorm", sqrt(expr("graft_dot(cemb, cemb)")))
      .filter(col("cnorm") > 0)
      .select(col("cluster_id"), expr("transform(cemb, x -> x / cnorm)").as("cemb"))
    val posting = assignClusters(unit, cUnit)
      .select(col("vec_id"), col("cluster_id"))
    // residual = unit − assigned centroid: the centroid table is broadcast,
    // so residual construction is map-side over the posting join
    val resid = unit.join(posting, Seq("vec_id"))
      .join(broadcast(cUnit), Seq("cluster_id"))
      .select(col("vec_id"), expr("zip_with(emb, cemb, (x, c) -> x - c)").as("emb"))
      .localCheckpoint(eager = false) // consumers: codebook rounds, encode
    val cb = pqCodebookOf(resid, m, ks, iters)
    val codes = pqEncodeOf(resid, cb, m)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(posting, Seq("vec_id")) // (vec_id, sub, cid, cluster_id)
    // routing stage ALSO supplies the exact q·c term per probed list
    val probes = unit.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(cUnit))
      .select(col("vec_id").as("qid"), col("cluster_id"),
        dot("emb", "cemb").as("c_cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("c_cos").desc, col("cluster_id"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cluster_id"),
        expr("CAST(round(c_cos, 9) AS DECIMAL(18,9))").as("c_cos"))
    val adc = pqSubvectors(unit.filter(col("vec_id") < nQueries), m)
      .join(cb, Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        expr("CAST(round(graft_dot(sv, cvec), 9) AS DECIMAL(18,9))").as("t"))
      // attach each query's probed lists + their exact centroid dots:
      // (qid, cluster_id, c_cos, sub, cid, t) — nQueries × nProbe × m × ks,
      // still broadcast-sized
      .join(probes, Seq("qid"))
    val approx = codes.join(broadcast(adc), Seq("cluster_id", "sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      // every row in the group shares the candidate's one posting cluster,
      // so first(c_cos) is well-defined (not an arbitrary pick)
      .agg((sum(col("t")) + first(col("c_cos"))).as("approx"))
    val wa = Window.partitionBy("qid").orderBy(col("approx").desc, col("vec_id"))
    val cand = approx.withColumn("arn", row_number().over(wa))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .join(broadcast(qSide), "qid")
      .join(e.select(col("vec_id").as("nid"), col("emb"), col("norm")), "nid")
      .select(col("qid"), col("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  // ---------------------------------------------------------------------
  // Oracle-artifact ANN faces (q65/q204/q205/q218): the q219 pattern
  // applied to vector search. Training (k-means centroids, PQ codebooks)
  // is iterative and engine-specific — it stays golden-pinned — but
  // everything AFTER training is relational: the face persists the
  // trained tables plus the 9-dp-rounded unit vectors as parquet under a
  // fixed path, then computes assignment → (encode) → ADC → refine →
  // exact re-score FROM the artifact in order-free DECIMAL arithmetic,
  // and the DuckDB oracle replays the identical stages from the same
  // files. Contract: the artifact is (over)written on every run, so the
  // standard dump-then-compare flow (Verify at one SF, then DuckDB)
  // always reads the matching artifact.
  //
  // Determinism: array elements are 9-dp-rounded doubles; both engines
  // CAST them to DECIMAL(18,9) (exact — the double sits within ~1e-25 of
  // its 9-dp decimal), multiply exactly, and sum exactly (products cast
  // to DECIMAL(28,18); sums stay under precision bounds in both
  // engines), so candidate sets, ranks, and tie-breaks cannot drift. The
  // final cos_sim rounds the exact decimal dot at 6 dp — a (2n+1)/2·10⁶
  // boundary is never binary-representable, so the two engines' round()
  // semantics agree on every reachable value.
  // ---------------------------------------------------------------------

  /** Root directory for the persisted oracle artifacts (vectors,
    * centroids, codebooks, weights, hash tables). Configurable via the
    * `graft.oracle.dir` system property (the Classifier `graft.state.dir`
    * pattern — on a cluster, point it at a shared filesystem so DuckDB /
    * executors read the same bytes); the default is a PER-PROCESS unique
    * temp directory, so two concurrent sessions (parallel benches or
    * verifies at different SFs) can never clobber each other's artifacts
    * and feed an oracle comparison the other run's bytes (r13 ADVICE).
    * The oracle SQL embeds whatever this process resolved, and Verify
    * dumps that SQL in the same process that wrote the artifacts, so the
    * driver's DuckDB run always reads the matching path. */
  private[graft] val annOracleRoot: String =
    sys.props.get("graft.oracle.dir").getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ann_oracle_").toString)

  // DuckDB fragments mirroring decDot/decSqDist term-for-term
  private def dkProd(a: String, b: String): String =
    s"CAST(CAST($a AS DECIMAL(18,9)) * CAST($b AS DECIMAL(18,9)) AS DECIMAL(28,18))"
  private def dkDiffSq(a: String, b: String): String =
    s"CAST(CAST(CAST($a AS DECIMAL(18,9)) - CAST($b AS DECIMAL(18,9)) AS DECIMAL(18,9))" +
      s" * CAST(CAST($a AS DECIMAL(18,9)) - CAST($b AS DECIMAL(18,9)) AS DECIMAL(18,9)) AS DECIMAL(28,18))"

  /** Leading CTEs every artifact oracle starts with: the persisted
    * vector relation + the 1..64 dim index. */
  private def dkVecCtes(name: String): String =
    s"""v AS (SELECT vec_id, emb FROM read_parquet('$annOracleRoot/$name/vectors/*.parquet')),
       |ix AS (SELECT unnest(range(1, 65)) AS i)""".stripMargin

  /** Coarse-assignment CTEs (ac/ar) over artifact centroids. */
  private def dkAssignCtes(name: String): String =
    s"""c AS (SELECT cluster_id, cemb FROM read_parquet('$annOracleRoot/$name/centroids/*.parquet')),
       |ac AS (SELECT v.vec_id, c.cluster_id,
       |         sum(${dkProd("v.emb[ix.i]", "c.cemb[ix.i]")}) AS cc
       |       FROM v, c, ix GROUP BY 1, 2),
       |ar AS (SELECT vec_id, cluster_id, cc, row_number() OVER (
       |         PARTITION BY vec_id ORDER BY cc DESC, cluster_id) AS rn FROM ac)""".stripMargin

  /** PQ codebook + decimal-exact encode CTEs (cb/jx/ed/codes) over the
    * relation `encSrc`, which must expose (vec_id, emb). */
  private def dkEncodeCtes(name: String, encSrc: String): String =
    s"""cb AS (SELECT sub, cid, cvec FROM read_parquet('$annOracleRoot/$name/codebook/*.parquet')),
       |jx AS (SELECT unnest(range(1, 9)) AS j),
       |ed AS (SELECT e.vec_id, cb.sub, cb.cid,
       |         sum(${dkDiffSq("e.emb[cb.sub * 8 + jx.j]", "cb.cvec[jx.j]")}) AS d2
       |       FROM $encSrc e, cb, jx GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |    SELECT vec_id, sub, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM ed) ec
       |  WHERE rn = 1)""".stripMargin

  /** Query-side ADC table CTE (adc): (qid, sub, cid, t). */
  private def dkAdcCte(nQueries: Int): String =
    s"""adc AS (SELECT v.vec_id AS qid, cb.sub, cb.cid,
       |          sum(${dkProd("v.emb[cb.sub * 8 + jx.j]", "cb.cvec[jx.j]")}) AS t
       |        FROM v, cb, jx WHERE v.vec_id < $nQueries GROUP BY 1, 2, 3)""".stripMargin

  /** Exact-re-score + rank tail (p/r/final select) off a `cand(qid, nid)`
    * CTE — the decRescoreTopK mirror. */
  private def dkRescoreTail(k: Int): String =
    s"""p AS (SELECT cand.qid, cand.nid,
       |        round(CAST(sum(${dkProd("a.emb[ix.i]", "b.emb[ix.i]")}) AS DOUBLE), 6) AS cos_sim
       |      FROM cand JOIN v a ON a.vec_id = cand.qid
       |                JOIN v b ON b.vec_id = cand.nid, ix
       |      GROUP BY 1, 2),
       |r AS (SELECT qid, nid, cos_sim, row_number() OVER (
       |        PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank FROM p)
       |SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** (vec_id, emb): unit vectors rounded to 9 dp — the artifact's vector
    * relation (the data side of the index, not a trained parameter). */
  private def unitRounded(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).select(col("vec_id"),
      expr("transform(emb, x -> round(x / norm, 9))").as("emb"))

  /** Write `df` to the fixed artifact path for (face, rel); read it back
    * so every downstream stage consumes the EXACT persisted bytes DuckDB
    * will read. */
  private[graft] def persistArtifact(name: String, rel: String, df: DataFrame): DataFrame = {
    val path = s"$annOracleRoot/$name/$rel"
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Scale-9 fixed-point view of a 9-dp array<double> column: one exact
    * decimal hop per element (the q220 move), after which every artifact
    * stage runs in pure long arithmetic through the codegen'd
    * [[graft.functions.DotLong]]/[[graft.functions.SqDistLong]] — the
    * interpreted per-element DECIMAL lambdas these replaced allocated a
    * BigDecimal per term (measured r12: q204 8.7 s / q205 12.6 s / q218
    * 14.1 s at sf0.1 vs native lanes 3.4/4.3/4.3). Scale-18 long sums
    * are INJECTIVELY order-equal to the DECIMAL(28,18) folds, and the
    * surfaced 6-dp doubles are bit-equal via
    * [[graft.functions.Unscale18Round6]], so the switch cannot move a
    * rank or an output value: oracles and goldens hold unchanged. */
  private def scaled9(col: String): Column =
    expr(s"transform($col, x -> CAST(CAST(x AS DECIMAL(18,9)) * 1000000000 AS BIGINT))")

  /** Add the scale-9 long twin `<col>L` used by the long-domain stages. */
  private def withScaled(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(s"${c}L", scaled9(c)))

  /** Scale-18 long dot of two scale-9 long arrays (exact, codegen'd). */
  private def longDot(a: String, b: String): Column =
    expr(s"graft_dot_long($a, $b)")

  /** Scale-18 long squared distance of two scale-9 long arrays. */
  private def longSqDist(a: String, b: String): Column =
    expr(s"graft_sqdist_long($a, $b)")

  /** Round the trained centroid table to the artifact's 9-dp contract
    * (unit-normalizing first, the [[ivfTopKWith]] discipline). */
  private def roundedUnitCentroids(centroids: DataFrame): DataFrame =
    centroids
      .withColumn("cnorm", sqrt(expr("graft_dot(cemb, cemb)")))
      .filter(col("cnorm") > 0)
      .select(col("cluster_id"),
        expr("transform(cemb, x -> round(x / cnorm, 9))").as("cemb"))

  /** Exact nearest-centroid ranking over artifact frames, in the long
    * domain: (vec_id, cluster_id, ccL, rn) with rn ordered by (ccL desc,
    * cluster_id) per vector — identical ranks to the decimal fold it
    * replaced (scale-18 longs are injectively order-equal). rn = 1 is
    * the assignment; rn ≤ nProbe is the probe set. `vecs`/`cent` must
    * carry embL/cembL ([[withScaled]]). */
  private def decAssignRanked(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cluster_id"), longDot("embL", "cembL").as("ccL"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("ccL").desc, col("cluster_id"))))

  /** Decimal-exact PQ encode over artifact frames: (vec_id, sub, cid) —
    * per (vector, subspace) argmin of the exact squared distance to the
    * `ks` codewords, cid tie-break. `vectors` must carry (vec_id, emb). */
  private def decPqEncode(vectors: DataFrame, cb: DataFrame, m: Int): DataFrame =
    withScaled(pqSubvectors(vectors, m), "sv")
      .join(broadcast(withScaled(cb, "cvec")), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        longSqDist("svL", "cvecL").as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2").asc, col("cid"))))
      .filter(col("rn") === 1)
      .select("vec_id", "sub", "cid")

  /** Exact re-score + rank tail shared by the artifact faces: candidates
    * (qid, nid) → (qid, nid, cos_sim, rank ≤ k), cos_sim = the exact
    * decimal dot of the stored unit vectors, rounded at 6 dp. */
  private def decRescoreTopK(vecs: DataFrame, cand: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val qSide = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embL").as("qembL"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .join(broadcast(qSide), "qid")
      .join(vecs.select(col("vec_id").as("nid"), col("embL")), "nid")
      .select(col("qid"), col("nid"),
        expr("graft_unscale18_round6(graft_dot_long(qembL, embL))").as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF top-k from the persisted artifact (q65's declared face):
    * centroids train exactly as [[ivfTopK]]'s, then assignment, probe
    * routing, and the exact re-score all run in decimal over the
    * persisted (vectors, centroids) — the stages the DuckDB oracle
    * replays verbatim. */
  def ivfTopKOracle(embeddings: DataFrame, nQueries: Int, k: Int,
      nClusters: Int, nProbe: Int, kmeansIters: Int = 3): DataFrame = {
    graft.functions.VectorExpressions.register(embeddings.sparkSession)
    val vecs = withScaled(persistArtifact("q65", "vectors", unitRounded(embeddings)), "emb")
      .localCheckpoint(eager = false) // consumers: assignment, re-score ×2
    val cent = withScaled(persistArtifact("q65", "centroids",
      roundedUnitCentroids(kmeansCentroids(embeddings, nClusters, kmeansIters))), "cemb")
    val ranked = decAssignRanked(vecs, cent)
      .localCheckpoint(eager = false) // consumers: posting + probes
    val posting = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("nid"), col("cluster_id"))
    val probes = ranked.filter(col("vec_id") < nQueries && col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cluster_id"))
    val cand = probes.join(posting, "cluster_id")
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    decRescoreTopK(vecs, cand, nQueries, k)
  }

  /** PQ-ADC top-k from the persisted artifact (q204's declared face):
    * the codebook trains exactly as [[pqTopK]]'s, then encode, the ADC
    * tables, the k·refine cut, and the exact re-score run in decimal
    * over the persisted (vectors, codebook). */
  def pqTopKOracle(embeddings: DataFrame, nQueries: Int, k: Int, m: Int = 8,
      ks: Int = 32, refine: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.VectorExpressions.register(embeddings.sparkSession)
    val vecs = withScaled(persistArtifact("q204", "vectors", unitRounded(embeddings)), "emb")
      .localCheckpoint(eager = false) // consumers: encode, ADC, re-score
    val cb = persistArtifact("q204", "codebook",
      pqCodebook(embeddings, m, ks, iters)
        .select(col("sub"), col("cid"),
          expr("transform(cvec, x -> round(x, 9))").as("cvec")))
    val codes = decPqEncode(vecs, cb, m)
    val adc = withScaled(pqSubvectors(vecs.filter(col("vec_id") < nQueries), m), "sv")
      .join(broadcast(withScaled(cb, "cvec")), Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        longDot("svL", "cvecL").as("t"))
    val approx = codes.join(broadcast(adc), Seq("sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("t")).as("approx"))
    val cand = approx.withColumn("arn",
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    decRescoreTopK(vecs, cand, nQueries, k)
  }

  /** IVF-PQ top-k from the persisted artifact (q205's declared face):
    * coarse centroids + codebook train exactly as [[ivfPqTopK]]'s; the
    * replayed stages are assignment, routing, encode, probed-list ADC,
    * the k·refine cut, and the exact re-score. */
  def ivfPqTopKOracle(embeddings: DataFrame, nQueries: Int, k: Int,
      nClusters: Int = 32, nProbe: Int = 16, m: Int = 8, ks: Int = 32,
      refine: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.VectorExpressions.register(embeddings.sparkSession)
    val vecs = withScaled(persistArtifact("q205", "vectors", unitRounded(embeddings)), "emb")
      .localCheckpoint(eager = false)
    val cent = withScaled(persistArtifact("q205", "centroids",
      roundedUnitCentroids(kmeansCentroids(embeddings, nClusters, iters))), "cemb")
    val cb = persistArtifact("q205", "codebook",
      pqCodebook(embeddings, m, ks, iters)
        .select(col("sub"), col("cid"),
          expr("transform(cvec, x -> round(x, 9))").as("cvec")))
    val ranked = decAssignRanked(vecs, cent)
      .localCheckpoint(eager = false) // consumers: posting + probes
    val posting = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster_id"))
    val probes = ranked.filter(col("vec_id") < nQueries && col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cluster_id"))
    val codes = decPqEncode(vecs, cb, m).join(posting, Seq("vec_id"))
    val adc = withScaled(pqSubvectors(vecs.filter(col("vec_id") < nQueries), m), "sv")
      .join(broadcast(withScaled(cb, "cvec")), Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        longDot("svL", "cvecL").as("t"))
      .join(probes, Seq("qid"))
    val approx = codes.join(broadcast(adc), Seq("cluster_id", "sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("t")).as("approx"))
    val cand = approx.withColumn("arn",
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    decRescoreTopK(vecs, cand, nQueries, k)
  }

  /** Residual IVF-PQ top-k from the persisted artifact (q218's declared
    * face): the codebook trains on (stored unit − stored centroid)
    * residuals exactly as [[ivfPqResidualTopK]] trains on its residuals;
    * the replayed stages add residual construction (exact — the true
    * difference of two 9-dp values is a 9-dp value, so the double
    * subtraction recovers it under the decimal cast) and the exact q·c
    * routing term on top of q205's. */
  def ivfPqResidualTopKOracle(embeddings: DataFrame, nQueries: Int, k: Int,
      nClusters: Int = 32, nProbe: Int = 16, m: Int = 8, ks: Int = 32,
      refine: Int = 16, iters: Int = 3): DataFrame = {
    graft.functions.VectorExpressions.register(embeddings.sparkSession)
    val vecs = withScaled(persistArtifact("q218", "vectors", unitRounded(embeddings)), "emb")
      .localCheckpoint(eager = false)
    val cent = withScaled(persistArtifact("q218", "centroids",
      roundedUnitCentroids(kmeansCentroids(embeddings, nClusters, iters))), "cemb")
    val ranked = decAssignRanked(vecs, cent)
      .localCheckpoint(eager = false) // consumers: posting, probes
    val posting = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster_id"))
    // residuals of the STORED values — what both engines reconstruct
    val resid = vecs.join(posting, Seq("vec_id"))
      .join(broadcast(cent), Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"),
        expr("zip_with(emb, cemb, (x, c) -> x - c)").as("emb"))
      .localCheckpoint(eager = false) // consumers: codebook training, encode
    val cb = persistArtifact("q218", "codebook",
      pqCodebookOf(resid.select("vec_id", "emb"), m, ks, iters)
        .select(col("sub"), col("cid"),
          expr("transform(cvec, x -> round(x, 9))").as("cvec")))
    val codes = decPqEncode(resid.select("vec_id", "emb"), cb, m)
      .join(posting, Seq("vec_id"))
    // probes carry the exact scale-18 q·c routing term
    val probes = ranked.filter(col("vec_id") < nQueries && col("rn") <= nProbe)
      .select(col("vec_id").as("qid"), col("cluster_id"), col("ccL"))
    val adc = withScaled(pqSubvectors(vecs.filter(col("vec_id") < nQueries), m), "sv")
      .join(broadcast(withScaled(cb, "cvec")), Seq("sub"))
      .select(col("vec_id").as("qid"), col("sub"), col("cid"),
        longDot("svL", "cvecL").as("t"))
      .join(probes, Seq("qid"))
    val approx = codes.join(broadcast(adc), Seq("cluster_id", "sub", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      // every row in the group shares the candidate's one posting cluster;
      // both terms are exact scale-18 longs, so the sum is too
      .agg((sum(col("t")) + first(col("ccL"))).as("approx"))
    val cand = approx.withColumn("arn",
        row_number().over(Window.partitionBy("qid")
          .orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("arn") <= k * refine)
      .select(col("qid"), col("vec_id").as("nid"))
    decRescoreTopK(vecs, cand, nQueries, k)
  }

  /** Signed projections onto bands×planesPerBand deterministic
    * pseudo-random ±1 hyperplanes via the native codegen'd
    * [[graft.functions.LshProject]] expression (one fused loop per row —
    * the lambda transform/aggregate form allocated an array per plane per
    * row and was ~7× slower at sf0.1). Requires an `emb` column; yields
    * array<double> `m` of length bands × planesPerBand, plane (band, p) at
    * index band*planesPerBand+p. */
  private def marginsExpr(planesPerBand: Int, bands: Int): Column =
    expr(s"graft_lsh_project(emb, ${bands * planesPerBand})")

  /** Primary band keys from a margins column: for each band, a struct
    * (band, key) where key packs the planesPerBand sign bits. `zero` is
    * the comparison literal — `0D` for the native double margins, `0`
    * for the md5 face's scaled-long margins (a `0D` compare would
    * coerce the long to double; harmless below 2^53 but the integer
    * compare is both exact-by-construction and cheaper). */
  private def bandKeysExprOn(mcol: String, zero: String,
      planesPerBand: Int, bands: Int): Column =
    expr(
      s"""transform(sequence(0, ${bands - 1}), band -> named_struct(
         |  'band', band,
         |  'key', aggregate(sequence(0, ${planesPerBand - 1}), CAST(0 AS BIGINT),
         |    (acc, p) -> acc | IF($mcol[band * $planesPerBand + p] > $zero,
         |      shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))))""".stripMargin)

  private def bandKeysExpr(planesPerBand: Int, bands: Int): Column =
    bandKeysExprOn("m", "0D", planesPerBand, bands)

  /** Multi-probe band keys: per band, the primary key plus `probes` probe
    * keys with the lowest-|margin| sign bits flipped one at a time — the
    * standard multi-probe LSH trick (a near-zero margin means the true
    * neighbor plausibly lies on the other side of that plane). fp = -1
    * encodes the primary (no flip) key. */
  private def probeKeysExprOn(mcol: String, zero: String,
      planesPerBand: Int, bands: Int, probes: Int): Column =
    expr(
      s"""flatten(transform(sequence(0, ${bands - 1}), band ->
         |  transform(
         |    concat(
         |      array(-1),
         |      slice(transform(array_sort(transform(sequence(0, ${planesPerBand - 1}),
         |          p -> named_struct('a', abs($mcol[band * $planesPerBand + p]), 'p', p))),
         |        s -> s.p), 1, $probes)),
         |    fp -> named_struct('band', band,
         |      'key', aggregate(sequence(0, ${planesPerBand - 1}), CAST(0 AS BIGINT),
         |        (acc, p) -> acc | IF(IF(p = fp, $mcol[band * $planesPerBand + p] <= $zero,
         |                                        $mcol[band * $planesPerBand + p] > $zero),
         |          shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))))))""".stripMargin)

  private def probeKeysExpr(planesPerBand: Int, bands: Int, probes: Int): Column =
    probeKeysExprOn("m", "0D", planesPerBand, bands, probes)

  /** Random-hyperplane LSH top-k: a vector's key in a band is the
    * planesPerBand-bit sign pattern of its projections; candidates for a
    * query are corpus vectors sharing (band, key); exact cosine then ranks
    * candidates. With `probes` > 0 the query side additionally probes, per
    * band, the buckets reached by flipping each of the `probes` weakest
    * sign bits — recall rises steeply at zero extra index (corpus-side)
    * cost; only the broadcast query side grows by the probe factor. */
  def annLshTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                 planesPerBand: Int, bands: Int, probes: Int = 0): DataFrame = {
    val e = withNorm(embeddings)
    val m = e.withColumn("m", marginsExpr(planesPerBand, bands))
    val corpus = m.withColumn("bk", explode(bandKeysExpr(planesPerBand, bands)))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val queries = m.filter(col("vec_id") < nQueries)
      .withColumn("bk", explode(probeKeysExpr(planesPerBand, bands, probes)))
      .select(col("vec_id").as("qid"), col("bk.band").as("band"), col("bk.key").as("key"))
    lshCandidatesTopK(e, corpus, queries, nQueries, k)
  }

  /** Shared tail of the bucketed-LSH top-k faces: (band, key) equi-join
    * for candidates, exact graft_dot re-score, per-query top-k. */
  private def lshCandidatesTopK(e: DataFrame, corpus: DataFrame,
      queries: DataFrame, nQueries: Int, k: Int): DataFrame = {
    // candidate ids from the (band, key) equi-join — dedup the bare
    // (qid, nid) id pairs across bands/probes BEFORE attaching embeddings,
    // so the dedup shuffle moves 16-byte pairs, not kilobyte vectors
    val cand = broadcast(queries)
      .join(corpus, Seq("band", "key"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"))
      .distinct()
    val qSide = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"), col("norm").as("qnorm"))
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("nid"))
    cand
      .join(broadcast(qSide), "qid")
      .join(e.select(col("vec_id").as("nid"), col("emb"), col("norm")), "nid")
      .select(col("qid"), col("nid"),
        round(dot("qemb", "emb") / (col("qnorm") * col("norm")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic ±1 plane masks for the md5 hyperplane family (q220):
    * bit d of mask P is 1 (sign +1) iff the FIRST HEX DIGIT of
    * md5("P_d") is even, else the sign is −1. md5, not the native
    * xxhash planes, because any engine with an md5 function regenerates
    * the planes digit-for-digit — the q52/q123 family trade applied to
    * hyperplane LSH. The q220 oracle recomputes this rule in DuckDB SQL
    * (not from these masks), so the correctness gate cross-validates the
    * two derivations; SimilaritySpec additionally pins this Scala
    * derivation against Spark's own md5 function. */
  private[graft] def md5PlaneMasks(planes: Int, dim: Int = 64): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dim).foldLeft(0L) { (acc, d) =>
        val h = md.digest(s"${p}_${d}".getBytes("UTF-8"))
        val firstHexDigit = (h(0) >> 4) & 0xf
        if (firstHexDigit % 2 == 0) acc | (1L << d) else acc
      }
    }
  }

  /** Exact margins under the md5 plane family, as SCALED LONGS: the
    * oracle's margin is Σ_d round(emb[d], 9) · sign(P, d) in exact
    * DECIMAL(·,9); this face computes 10⁹ × that value in pure long
    * arithmetic — each dim is rounded/scaled to a long ONCE (via an
    * exact DECIMAL(18,9) × 10⁹ hop, never a double multiply), then all
    * 96 plane sums are long folds. Long addition is exact (terms ≤
    * ~2³³, 64 of them — no overflow), and ×10⁹ is a positive injective
    * scaling, so signs, |margin| ordering, AND ties are identical to
    * the decimal form — the engine-independence the SQL oracle needs,
    * at ~1/6 the cost of folding boxed Decimals per plane (measured:
    * q220 17.7 s → decimal-once + long folds; the q52 md5-lane trade
    * with the decimal work hoisted out of the planes loop). The native
    * [[marginsExpr]] face keeps fused double arithmetic. Expects an
    * `st` column = transform(emb, scaled-long). */
  private[graft] def scaledTermsExpr: Column =
    expr("transform(emb, x -> CAST(CAST(round(x, 9) AS DECIMAL(18,9)) * 1000000000 AS BIGINT))")

  private def md5MarginsExpr(masks: Seq[Long]): Column =
    expr(
      s"""transform(array(${masks.mkString("L, ")}L), mask ->
         |  aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, d) ->
         |    acc + IF((shiftright(mask, d) & 1) = 1,
         |      element_at(st, d + 1), -element_at(st, d + 1))))""".stripMargin)

  /** Hyperplane-LSH top-k under the md5 plane family (q220) — the
    * ORACLE-CHECKED twin of [[annLshTopK]]: same banding, same
    * weakest-|margin| multi-probe rule, same exact re-score, but planes
    * from [[md5PlaneMasks]] and margins as exact scaled longs (the
    * injective ×10⁹ image of the oracle's DECIMAL margins), so DuckDB
    * reproduces candidates AND ranks verbatim. The native xxhash-plane
    * q56 stays the production face (codegen'd fused loop); this face is
    * the cross-engine semantic pin for the whole bucketed-ANN family. */
  def annLshTopKMd5(embeddings: DataFrame, nQueries: Int, k: Int,
      planesPerBand: Int = 6, bands: Int = 16, probes: Int = 2): DataFrame =
    annLshTopKFromMasks(embeddings, md5PlaneMasks(bands * planesPerBand),
      nQueries, k, planesPerBand, bands, probes)

  /** q56 declared face: hyperplane-LSH top-k under the PRODUCTION xxhash
    * plane family ([[graft.functions.LshProjections]] — the signs the
    * codegen'd `graft_lsh_project` expression projects onto), margins as
    * exact scaled longs, and the plane signs persisted as a parquet
    * artifact (pl, d 1-based, s ±1) so DuckDB replays banding, the
    * weakest-|margin| probe flips, and the exact re-score bit-for-bit
    * from the stored table — the artifact-replay pattern of
    * q65/q204/q205/q218 applied to the last rows-only face (r13 VERDICT
    * #1). The fused-double [[annLshTopK]] stays the production lane
    * (bench face x56); SimilaritySpec cross-validates the persisted
    * signs against the expression's own sign matrix and pins this
    * face's recall beside the native lane's. */
  def annLshTopKXxhash(embeddings: DataFrame, nQueries: Int, k: Int,
      planesPerBand: Int = 6, bands: Int = 16, probes: Int = 2): DataFrame = {
    val masks =
      graft.functions.LshProjections.signMasks(bands * planesPerBand, 64)
    val spark = embeddings.sparkSession
    val planeRows = for {
      pl <- 0 until bands * planesPerBand
      d <- 1 to 64
    } yield (pl, d, if (((masks(pl) >> (d - 1)) & 1L) == 1L) 1 else -1)
    import spark.implicits._
    persistArtifact("q56", "planes", planeRows.toDF("pl", "d", "s"))
    annLshTopKFromMasks(embeddings, masks, nQueries, k, planesPerBand,
      bands, probes)
  }

  private def annLshTopKFromMasks(embeddings: DataFrame, masks: Seq[Long],
      nQueries: Int, k: Int, planesPerBand: Int, bands: Int,
      probes: Int): DataFrame = {
    // one corpus scan feeds everything: e (norms) is read by the margin
    // frame AND both exact-re-score sides; m (the 96 long-fold margins,
    // the face's dominant in-row cost) is read by the corpus keys and the
    // probe keys — without the barriers the margins compute twice and the
    // parquet scans four times
    val e = withNorm(embeddings)
      .localCheckpoint(eager = false)
    val m = e.withColumn("st", scaledTermsExpr)
      .withColumn("mm", md5MarginsExpr(masks))
      .select("vec_id", "mm")
      .localCheckpoint(eager = false)
    val corpus = m.withColumn("bk",
        explode(bandKeysExprOn("mm", "0", planesPerBand, bands)))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val queries = m.filter(col("vec_id") < nQueries)
      .withColumn("bk",
        explode(probeKeysExprOn("mm", "0", planesPerBand, bands, probes)))
      .select(col("vec_id").as("qid"), col("bk.band").as("band"), col("bk.key").as("key"))
    lshCandidatesTopK(e, corpus, queries, nQueries, k)
  }

  /** Exact all-pairs cosine >= threshold (q55): the oracle/recall BASELINE
    * for [[cosineThresholdPairsLsh]] and the edge source for
    * [[semanticDedupClusters]]. O(n²) by design — it exists to define
    * ground truth at test scale; production traffic takes the LSH form. */
  def exactCosinePairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val e = withNorm(embeddings)
    val a = e.select(col("vec_id").as("v1"), col("emb").as("emb1"), col("norm").as("norm1"))
    val b = e.select(col("vec_id").as("v2"), col("emb").as("emb2"), col("norm").as("norm2"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(dot("emb1", "emb2") / (col("norm1") * col("norm2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Semantic dedup (SemDeDup-shaped): connected components over the
    * embedding-cosine near-dup graph, cluster_id = component minimum,
    * keeper = that minimum — the deterministic keep-one-per-cluster rule
    * shared with q62/q67. Exact pair graph (see [[exactCosinePairs]]);
    * output (vec_id, cluster_id, is_keeper) covers every vector that
    * appears in at least one qualifying pair. */
  def semanticDedupClusters(embeddings: DataFrame, threshold: Double): DataFrame =
    clustersOf(exactCosinePairs(embeddings, threshold))

  /** The 100 TB form of [[semanticDedupClusters]]: edges from LSH
    * candidates re-scored exactly ([[cosineThresholdPairsLsh]] — shuffle
    * O(n × bands), never all-pairs), components via the O(log n)-round
    * star algorithm. Emitted similarities are exact, so edges are a SUBSET
    * of the true graph: clusters can only split (never merge wrongly) vs
    * the exact form — the safe failure direction for dedup, gated by
    * SimilaritySpec against [[semanticDedupClusters]]. */
  def semanticDedupClustersLsh(embeddings: DataFrame, threshold: Double,
                               planesPerBand: Int, bands: Int): DataFrame =
    clustersOf(cosineThresholdPairsLsh(embeddings, threshold, planesPerBand, bands))

  private def clustersOf(pairs: DataFrame): DataFrame =
    Dedup.connectedComponentsStar(
        pairs.select(col("v1").as("d1"), col("v2").as("d2")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_keeper"))

  /** SemDeDup (Abbas et al. 2023): semantic dedup with K-MEANS-BOUNDED
    * candidate generation — the published production method for
    * embedding-level dedup at web scale. Pipeline: deterministic k-means
    * (the q65 coarse quantizer), within-cluster exact-cosine edges at
    * `threshold`, connected components, then the paper's keep rule: each
    * semantic group keeps the member FARTHEST from its cluster centroid
    * (lowest centroid dot; tie → min vec_id) — the peripheral exemplar,
    * which the paper measured best for downstream training (vs q79's
    * min-id keeper and q106's quality argmax).
    *
    * Approximation contract: candidates are pairs sharing at least one
    * of their `probes` nearest clusters, so edges are a SUBSET of the
    * exact q79 graph — groups can only split, never merge wrongly (the
    * LSH face's safe direction, spec-gated the same way). Pair volume is
    * Σ (probed-cluster size)² ≈ (n·probes)²/k on balanced clusters;
    * (k, probes) dial recall vs cost exactly like (nClusters, nProbe)
    * for IVF — measured at the shipped config: pair recall 0.98 at
    * sf0.001 vs 0.29 single-probe (boundary pairs straddle clusters).
    *
    * Output (members of qualifying groups only, the q79 contract):
    * (vec_id, group_id, cos_to_centroid, is_keeper) — cos_to_centroid
    * and the keep rule always use the TOP-1 cluster. */
  def semDedupKmeans(embeddings: DataFrame, threshold: Double,
      k: Int, iters: Int = 3, probes: Int = 3): DataFrame =
    semDedupFromCentroids(embeddings, kmeansCentroids(embeddings, k, iters),
      threshold, probes)

  /** q222: classify every pair surfaced by the lexical (q51) or semantic
    * (q79) exact near-dup graph over the dual-modality id set. Both pair
    * generators are the existing bounded machineries; the comparison is
    * one pair-key full outer join; the per-class example is a min-struct
    * aggregate (never a sort). */
  def dedupFamilyAgreement(docs: DataFrame, embeddings: DataFrame,
      jaccardThreshold: Double = 0.6, cosineThreshold: Double = 0.4): DataFrame = {
    val ids = embeddings.select(col("vec_id").as("doc_id")).distinct()
    val lex = Dedup.exactJaccardPairs(docs.join(ids, "doc_id"), jaccardThreshold)
      .select(col("d1"), col("d2"), lit(true).as("lexical"))
    val sem = exactCosinePairs(embeddings, cosineThreshold)
      .select(col("v1").as("d1"), col("v2").as("d2"), lit(true).as("semantic"))
    lex.join(sem, Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"),
        when(coalesce(col("lexical"), lit(false)) &&
             coalesce(col("semantic"), lit(false)), "both")
          .when(coalesce(col("lexical"), lit(false)), "lexical_only")
          .otherwise("semantic_only").as("family"))
      .groupBy("family")
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("d1"), col("d2"))).as("ex"))
      .select(col("family"), col("n_pairs"),
        col("ex.d1").as("example_d1"), col("ex.d2").as("example_d2"))
  }

  /** Everything after the quantizer: [[semDedupKmeans]] with the centroid
    * table supplied — the seam the q136 oracle persists through (training
    * stays golden-pinned; assignment → candidates → edges → components →
    * keep rule all replay in DuckDB from the stored centroids). */
  def semDedupFromCentroids(embeddings: DataFrame, centroids: DataFrame,
      threshold: Double, probes: Int = 3): DataFrame = {
    val e = withNorm(embeddings)
      .select(col("vec_id"), expr("transform(emb, x -> x / norm)").as("emb"))
    // three consumers (both pair sides + the keep rule) → lazy barrier
    val w = Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("cluster_id"))
    val ranked = e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("emb"), col("cluster_id"),
        dot("emb", "cemb").as("c_cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= probes)
      .localCheckpoint(eager = false)
    val a = ranked.select(col("cluster_id"), col("vec_id").as("v1"),
      col("emb").as("emb1"))
    val b = ranked.select(col("cluster_id"), col("vec_id").as("v2"),
      col("emb").as("emb2"))
    val edges = a.join(b, Seq("cluster_id")).filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"), round(dot("emb1", "emb2"), 6).as("cos_sim"))
      .distinct() // a pair sharing several probed clusters edges once
      .filter(col("cos_sim") >= threshold)
    val comps = Dedup.connectedComponentsStar(
        edges.select(col("v1").as("d1"), col("v2").as("d2")))
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
    val withCos = comps
      .join(ranked.filter(col("rn") === 1).select(col("vec_id"), col("c_cos")),
        Seq("vec_id"))
      .localCheckpoint(eager = false) // consumers: keeper argmin + output
    val keepers = withCos.groupBy("group_id")
      .agg(min(struct(col("c_cos"), col("vec_id"))).as("kp"))
      .select(col("group_id"), col("kp.vec_id").as("keeper"))
    withCos.join(keepers, Seq("group_id")) // unhinted: AQE broadcasts when small
      .select(col("vec_id"), col("group_id"),
        round(col("c_cos"), 6).as("cos_to_centroid"),
        (col("vec_id") === col("keeper")).as("is_keeper"))
  }

  /** The PERSISTABLE LSH index rows: (vec_id, band, key), one row per
    * (vector, band). A key depends only on the row's own vector (the
    * hyperplanes are hash-derived constants), so keys computed per batch
    * equal keys computed over any union — the property that makes the
    * incremental path below exactly a slice of the self-join. Write this
    * to parquet after each ingest (~3 numbers per vector per band, ~0.1%
    * of the vector bytes) and later batches never re-project the corpus. */
  def lshBandKeys(embeddings: DataFrame, planesPerBand: Int, bands: Int): DataFrame =
    withNorm(embeddings)
      .withColumn("m", marginsExpr(planesPerBand, bands))
      .withColumn("bk", explode(bandKeysExpr(planesPerBand, bands)))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Incremental semantic near-dup: exact-cosine pairs (>= threshold)
    * between a NEW batch of embeddings and an EXISTING corpus represented
    * by its persisted [[lshBandKeys]] index — the embedding analogue of
    * [[Dedup.incrementalMinhashPairs]] / [[Dedup.incrementalSimhashPairs]],
    * completing the incremental story across all three near-dup families.
    *
    * Candidates come from the new-keys × corpus-keys (band, key)
    * equi-join; bare id pairs are normalized (v1 < v2) and deduped before
    * vectors attach, so the dedup shuffle moves 16-byte pairs. Exact
    * graft_dot re-scores every candidate — `corpusVectors` is joined BY ID
    * after candidate generation, so at 100 TB only candidates' vectors are
    * fetched, never the corpus. Same parameters ⇒ the result is exactly
    * the new↔corpus slice of [[cosineThresholdPairsLsh]] over the union
    * (SimilaritySpec pins this); new↔new pairs come from the batch
    * self-join. ASSUMES batch and corpus vec_ids are disjoint (the
    * ingest pipeline's id stamping guarantees it): an id on both sides
    * would duplicate rows through the vector-attach joins. */
  def incrementalCosinePairsLsh(newEmbeddings: DataFrame, corpusKeys: DataFrame,
      corpusVectors: DataFrame, threshold: Double,
      planesPerBand: Int, bands: Int): DataFrame = {
    val vecs = withNorm(
      newEmbeddings.select("vec_id", "embedding")
        .unionByName(corpusVectors.select("vec_id", "embedding")))
    rescored(BandJoin.probe(lshBandKeys(newEmbeddings, planesPerBand, bands),
      corpusKeys, "vec_id", Seq("band", "key"), None), vecs, threshold)
  }

  /** The exact graft_dot re-score of LSH candidates: bare (v1, v2) id
    * pairs dedup across bands BEFORE vectors attach (the dedup shuffle
    * moves 16-byte pairs, not kilobyte vectors), then each pair's vectors
    * attach by id from `vecs` (vec_id, emb, norm) and cos_sim >= threshold
    * is kept. Emitted similarities are exact; only recall depends on the
    * banding. */
  private def rescored(c: BandJoin.Candidates, vecs: DataFrame, threshold: Double): DataFrame =
    c.rows.select(c.lo.as("v1"), c.hi.as("v2")).distinct()
      .join(vecs.select(col("vec_id").as("v1"), col("emb").as("emb1"),
        col("norm").as("norm1")), "v1")
      .join(vecs.select(col("vec_id").as("v2"), col("emb").as("emb2"),
        col("norm").as("norm2")), "v2")
      .select(col("v1"), col("v2"),
        round(dot("emb1", "emb2") / (col("norm1") * col("norm2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)

  /** Cosine threshold pairs via LSH candidates — the 100 TB form of q55's
    * all-pairs scan. Both sides of the self-join carry primary band keys;
    * candidate pairs come from the (band, key) equi-join (shuffle volume
    * O(n × bands), never O(n²)); exact graft_dot cosine re-scores every
    * candidate, so emitted similarities are exact — only recall (which
    * pairs are seen) is approximate, governed by (planesPerBand, bands). */
  def cosineThresholdPairsLsh(embeddings: DataFrame, threshold: Double,
                              planesPerBand: Int, bands: Int): DataFrame = {
    // repartition by the band key: both self-join sides hang off one
    // canonical exchange for AQE's runtime stage cache to dedupe. At
    // tiny SF the join broadcast-converts and the projection subtree
    // runs per side (q51's failure mode, harmless at that size); at
    // corpus scale both sides stay shuffles on identical subtrees, the
    // shape stage reuse serves. A localCheckpoint barrier A/B'd at
    // wall-clock parity (~2.1s standalone at sf0.1) but always pays
    // block materialization + two fresh shuffles off
    // UnknownPartitioning, so the reuse form is kept.
    val keyed = lshBandKeys(embeddings, planesPerBand, bands)
      .repartition(col("band"), col("key"))
    rescored(BandJoin.self(keyed, "vec_id", Seq("band", "key"), None),
      withNorm(embeddings), threshold)
  }

  /** [[cosineThresholdPairsLsh]] under the md5 plane family (q55b's
    * declared face — the q220 trade applied to the PAIRS shape): planes
    * from [[md5PlaneMasks]], margins as exact scaled longs, so DuckDB
    * regenerates the planes from md5 itself, replays the banding
    * self-join, and re-scores the identical candidate set. The native
    * xxhash-plane [[cosineThresholdPairsLsh]] stays the production
    * face (it feeds [[semanticDedupClustersLsh]]), recall-gated in
    * SimilaritySpec. */
  def cosineThresholdPairsLshMd5(embeddings: DataFrame, threshold: Double,
      planesPerBand: Int, bands: Int): DataFrame = {
    val masks = md5PlaneMasks(bands * planesPerBand)
    // barriers, not the native face's repartition-for-reuse: the md5
    // margins (bands × planesPerBand long folds per vector) are ~10× the
    // native fused-double projection, so the broadcast-converted
    // per-side recompute the native face tolerates would dominate here —
    // fold margins once, read the banded keys from blocks on both join
    // sides (measured 4.8 s → the barrier form at sf0.1; annLshTopKMd5
    // got the same treatment)
    val e = withNorm(embeddings)
      .localCheckpoint(eager = false) // consumers: margins + both re-score sides
    val keyed = e.withColumn("st", scaledTermsExpr)
      .withColumn("mm", md5MarginsExpr(masks))
      .withColumn("bk", explode(bandKeysExprOn("mm", "0", planesPerBand, bands)))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .localCheckpoint(eager = false) // both self-join sides
    rescored(BandJoin.self(keyed, "vec_id", Seq("band", "key"), None), e, threshold)
  }

  /** Johnson-Lindenstrauss ±1 random projection (q117; Achlioptas 2003):
    * sketch `dim`-dim embeddings to `k` dims via y_i = Σ_j v_j·s(i,j)/√k
    * with s(i,j) ∈ {±1}. The dim-reduction pass that runs BEFORE
    * banding/quantizing when the vectors themselves are wide — distances
    * are preserved within ~1/√k relative error (measured: median 12% at
    * k=16 on the test table, distance correlation ≈ a true random
    * matrix's).
    *
    * The sign matrix derives from md5(i ++ "_" ++ j), NOT a
    * multiplicative hash: the Knuth-hash high bit measured visibly
    * structured across adjacent flat indices on this matrix shape
    * (|row·row| up to 36/64 vs md5's 18/64 ≈ the random-matrix
    * envelope; distance corr 0.16 vs 0.34). md5 is engine-identical,
    * and the matrix is computed ONCE — k·dim hashes total, not per row.
    *
    * Engine determinism: per-term products round to 9 places and sum as
    * DECIMAL (the q87 discipline; the oracle's relational GROUP BY and
    * this in-row fold then agree in any order).
    *
    * Scale shape: the matrix is data-independent — assembled from two
    * `range`s (no scan), collapsed to a single array-of-arrays row,
    * broadcast; the projection is a pure in-row fold — one corpus scan,
    * zero corpus shuffle, output k rows per vector. */
  def jlProject(embeddings: DataFrame, dim: Int = 64, k: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    val signs = spark.range(k).select(col("id").as("i"))
      .crossJoin(spark.range(dim).select(col("id").as("j")))
      .select(col("i"),
        struct(col("j"),
          when(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 1) <= "7", 1)
            .otherwise(-1).as("sgn")).as("cell"))
      .groupBy("i").agg(sort_array(collect_list(col("cell"))).as("r"))
      .select(struct(col("i"), col("r.sgn").as("row")).as("irow"))
      .groupBy().agg(sort_array(collect_list(col("irow"))).as("m"))
      .select(col("m.row").as("signs"))
    val rt = math.sqrt(k.toDouble)
    embeddings.crossJoin(broadcast(signs))
      .select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${k - 1}), i -> struct(
           |  CAST(i AS BIGINT) AS proj_dim,
           |  round(CAST(aggregate(sequence(0, ${dim - 1}),
           |      CAST(0 AS DECIMAL(28,9)),
           |      (acc, j) -> CAST(acc + CAST(round(
           |          CAST(element_at(embedding, j + 1) AS DOUBLE)
           |            * element_at(element_at(signs, i + 1), j + 1), 9)
           |        AS DECIMAL(18,9)) AS DECIMAL(28,9))) AS DOUBLE) / $rt, 6) AS value))"""
          .stripMargin)).as("p"))
      .select(col("vec_id"), col("p.proj_dim").as("proj_dim"),
        col("p.value").as("value"))
  }
}
