package graft

import org.apache.spark.sql.functions._

/** ANN tuning sweep: top-1/top-k recall of the multi-probe LSH and IVF
  * paths against the exact cosine top-k, across their knobs — the
  * committed recall/cost table in SCALING.md comes from this.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.AnnSweep"
  *
  * Prints one JSON line per configuration: recall@1, recall@k, and the
  * candidate volume (the cost proxy — candidates ≈ scan+rescore work).
  */
object AnnSweep {

  /** The shipped operating points (the params q56/q65/q66 declare) and
    * their measured top-1 recall/agreement on the fixed testdata —
    * regenerated by this sweep (committed as ANN.md), and gated EXACTLY in
    * SimilaritySpec: an "optimization" that quietly trades recall for
    * speed now fails CI instead of sliding past an ad-hoc floor. All
    * three paths are deterministic (xxhash planes, seeded k-means, fixed
    * data), so these are fixed numbers, not statistics. */
  val operatingPoints: Map[(String, String), Double] = Map(
    ("q56_lsh_planes6_bands16_probes2", "sf0.001") -> 0.940,
    ("q56_lsh_planes6_bands16_probes2", "sf0.01") -> 0.880,
    // r14: the declared q56 face moved to persisted-planes scaled-long
    // margins (same xxhash family, exact arithmetic) to earn its DuckDB
    // oracle — measured recall IDENTICAL to the fused-double lane at
    // both SFs (0.98 at sf0.1), pinned separately so either lane can
    // drift independently and still fail loudly
    ("q56_lshxx_long_planes6_bands16_probes2", "sf0.001") -> 0.940,
    ("q56_lshxx_long_planes6_bands16_probes2", "sf0.01") -> 0.880,
    ("q65_ivf_k8_nprobe3", "sf0.001") -> 0.760,
    ("q65_ivf_k8_nprobe3", "sf0.01") -> 0.760,
    ("q66_int8_top1_agreement", "sf0.001") -> 0.960,
    ("q66_int8_top1_agreement", "sf0.01") -> 1.000,
    // q204 PQ-ADC recall@5 vs the exact scan (m=8, ks=32, refine=16;
    // measured this round — refine is the dominant dial: 4 → 0.596,
    // 16 → 0.928 at sf0.001 with ks=32)
    ("q204_pq_m8_ks32_refine16", "sf0.001") -> 0.928,
    ("q204_pq_m8_ks32_refine16", "sf0.01") -> 0.912,
    // q205 IVF-PQ recall@5, BOUNDED by the IVF routing stage — the
    // fixed-cost dial is list granularity: at the same probed fraction
    // (nProbe/nClusters = 1/2), (8,4) gave 0.780/0.816, (16,8)
    // 0.824/0.864, shipped (32,16) the points below (r12 sweep)
    ("q205_ivfpq_k32_nprobe16_m8_ks32", "sf0.001") -> 0.928,
    ("q205_ivfpq_k32_nprobe16_m8_ks32", "sf0.01") -> 0.928,
    // q218 residual IVF-PQ recall@5 at the SAME routing/code/scan budget
    // as q205: codes quantize (unit − centroid) residuals and the exact
    // q·c term rides the routing stage, so only the smaller residual
    // term is approximated — measured gain over q205 at (32,16):
    // recall@5 0.928 → 0.944 at sf0.001 (tie at sf0.01), recall@1
    // 0.920 → 0.940 at sf0.01 (r12 sweep)
    ("q218_ivfpqres_k32_nprobe16_m8_ks32", "sf0.001") -> 0.944,
    ("q218_ivfpqres_k32_nprobe16_m8_ks32", "sf0.01") -> 0.928,
    // q220 md5-plane LSH recall@5 — its own plane family (md5 parity,
    // DECIMAL margins), so its own operating point beside q56's xxhash
    // planes (r12 sweep; recall@1 0.980/0.940)
    ("q220_lshmd5_planes6_bands16_probes2", "sf0.001") -> 0.904,
    ("q220_lshmd5_planes6_bands16_probes2", "sf0.01") -> 0.924)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // pinned: ANN.md and the operating points above were swept at 8 cores
    val spark = GraftSession(cores = Some(8))
    import spark.implicits._

    val emb = Tables.embeddings(spark, sfDir)
    val (nQueries, k) = (50, 5)
    val exact = operators.Similarity.cosineTopK(emb, col("vec_id") < nQueries, k)
      .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
    val exactTop1 = exact.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    val exactTopK = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    def report(tag: String, got: Seq[(Long, Long, Long)]): Unit = {
      val gotTop1 = got.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
      val r1 = exactTop1.count { case (q, n) => gotTop1.get(q).contains(n) }.toDouble / exactTop1.size
      val rk = exactTopK.map { case (q, ns) =>
        got.filter(_._1 == q).map(_._2).count(ns.contains).toDouble / ns.size
      }.sum / exactTopK.size
      println(f"""{"config":"$tag","recall_at_1":$r1%.3f,"recall_at_k":$rk%.3f,"rows":${got.size}}""")
    }

    for (probes <- Seq(0, 1, 2, 3); bands <- Seq(8, 16)) {
      val got = operators.Similarity.annLshTopK(emb, nQueries, k,
          planesPerBand = 6, bands = bands, probes = probes)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report(s"lsh planes=6 bands=$bands probes=$probes", got.toSeq)
    }
    for (nProbe <- Seq(1, 2, 3, 4)) {
      val got = operators.Similarity.ivfTopK(emb, nQueries, k,
          nClusters = 8, nProbe = nProbe, kmeansIters = 3)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report(s"ivf k=8 nProbe=$nProbe", got.toSeq)
    }
    // PQ-ADC (q204) at the shipped params, for the composed-recall table
    {
      val got = operators.Similarity.pqTopK(emb, nQueries, k,
          m = 8, ks = 32, refine = 16)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report("pq m=8 ks=32 refine=16", got.toSeq)
    }
    // IVF-PQ (q205): composed recall is BOUNDED by the IVF routing stage,
    // so the fixed-cost dial is GRANULARITY — more, smaller lists at the
    // same probed fraction (nProbe/nClusters): (8,4) → (16,8) → (32,16)
    // all scan ~half the corpus per query, with routing recall rising as
    // the lists shrink (the FAISS nlist rule applied at test scale)
    for ((nc, np) <- Seq((8, 4), (16, 8), (32, 16))) {
      val got = operators.Similarity.ivfPqTopK(emb, nQueries, k,
          nClusters = nc, nProbe = np, m = 8, ks = 32, refine = 16)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report(s"ivfpq k=$nc nProbe=$np m=8 ks=32 refine=16", got.toSeq)
    }
    // residual IVF-PQ (q218): same routing + code + scan budget as q205;
    // the delta vs the q205 row at (32,16) is pure residual-trick gain
    for ((nc, np) <- Seq((16, 8), (32, 16))) {
      val got = operators.Similarity.ivfPqResidualTopK(emb, nQueries, k,
          nClusters = nc, nProbe = np, m = 8, ks = 32, refine = 16)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report(s"ivfpqres k=$nc nProbe=$np m=8 ks=32 refine=16", got.toSeq)
    }
    // md5-plane LSH (q220): the oracle-checkable plane family at the
    // q56 banding; recall differs from q56 only through the plane draw
    {
      val got = operators.Similarity.annLshTopKMd5(emb, nQueries, k,
          planesPerBand = 6, bands = 16, probes = 2)
        .select("qid", "nid", "rank").as[(Long, Long, Long)].collect()
      report("lshmd5 planes=6 bands=16 probes=2", got.toSeq)
    }
    // int8 path (q66): top-1 agreement of the dequantized scan vs float
    val deq = operators.Similarity.dequantizeInt8(
      operators.Similarity.quantizeInt8(emb))
    val qTop1 = operators.Similarity.cosineTopK(deq, col("vec_id") < nQueries, k = 1)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    val agree = exactTop1.count { case (q, n) => qTop1.get(q).contains(n) }.toDouble /
      exactTop1.size
    println(f"""{"config":"int8 dequantized scan","top1_agreement":$agree%.3f}""")
    spark.stop()
  }
}
