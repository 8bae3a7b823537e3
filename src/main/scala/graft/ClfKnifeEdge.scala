package graft

import org.apache.spark.sql.functions._

/** Knife-edge audit for the classifier oracle family (q110/q111/q181/
  * q190/q217) — the measurement behind the safety argument in
  * `Classifier.scala`'s replay block: the ONLY cross-engine drift source
  * in the unrolled GD replay is libm `exp()` (every other step is
  * ordered-double or exact-decimal arithmetic on bit-identical inputs),
  * so the replay is exact iff no rounding gate sits closer to a decimal
  * boundary than the worst-case sigmoid-level exp drift.
  *
  * This main measures the Spark half on real corpora:
  *  - min distance of every raw 9-dp-gated gradient contribution r·tf
  *    from its rounding boundary, per round (exact, via BigDecimal);
  *  - min distance of the raw final weights from the 9-dp artifact gate;
  *  - min distance of the final scores' sigmoid from the 6-dp gate;
  * and dumps every margin with Spark's own `exp(−m)` (= Java Math.exp —
  * whole-stage codegen emits java.lang.Math.exp) plus a deterministic
  * 200k-point synthetic sweep of the observed margin range, for
  * `tools/knife_edge.py` to recompute in DuckDB and bound the drift:
  * safety = min(distance) / max(sigmoid-level drift).
  *
  * Usage: runMain graft.ClfKnifeEdge <sfDir> <outDir>
  */
object ClfKnifeEdge {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()

    val docs = Tables.documents(spark, sfDir)
    val (margins, grads, rawW) = operators.Classifier.knifeEdgeFrames(docs)
    val marginsP = margins.localCheckpoint(eager = true)

    val d9 = operators.Classifier.boundaryDistUdf(9)
    val d6 = operators.Classifier.boundaryDistUdf(6)

    // per-round min gradient-gate distance + the global min
    val gradDist = grads.select(col("stage"), d9(col("g")).as("d"))
      .groupBy("stage").agg(min(col("d")).as("min_d"), count(lit(1)).as("n"))
      .orderBy("stage").collect()
    val gradMin = gradDist.map(_.getDouble(1)).min
    val gradN = gradDist.map(_.getLong(2)).sum

    val wMin = rawW.select(min(d9(col("w"))).as("d")).head.getDouble(0)
    val scoreRow = marginsP.filter(col("stage") === 0)
      .select((lit(1.0) / (lit(1.0) + col("e"))).as("p"))
      .agg(min(d6(col("p"))).as("d"), count(lit(1)).as("n")).head
    val (scoreMin, scoreN) = (scoreRow.getDouble(0), scoreRow.getLong(1))

    // deterministic synthetic sweep of the observed margin range (±20%
    // headroom), exp via the same codegen'd path as the real faces
    val mm = marginsP.agg(min("m"), max("m")).head
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val (slo, shi) = (lo - 0.2 * (hi - lo), hi + 0.2 * (hi - lo))
    val sweep = spark.range(0, 200000)
      .select((lit(slo) + col("id") * lit((shi - slo) / 199999.0)).as("m"))
      .select(lit(-1).as("stage"), lit(-1L).as("doc_id"), col("m"),
        exp(-col("m")).as("e"))

    marginsP.unionAll(sweep).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/margins")

    println(s"""{"sf_dir":"$sfDir","grad_contribs":$gradN,"min_grad_dist":$gradMin,"per_round":[${
      gradDist.map(r => s"""{"stage":${r.getInt(0)},"min_d":${r.getDouble(1)},"n":${r.getLong(2)}}""").mkString(",")
    }],"min_weight_dist":$wMin,"scores":$scoreN,"min_score_dist":$scoreMin,"margin_range":[$lo,$hi]}""")
    spark.stop()
  }
}
