package graft

import org.apache.spark.sql.functions._

/** Scale-probe corpus generator (VERDICT r12 #6): the committed testdata
  * tops out at sf0.1 (5 000 documents), so every measured SF slope spans
  * two decades of SMALL data. This main writes a `mul`× documents table
  * derived from a source SF dir — NEVER touching /root/testdata — so the
  * dedup family's slopes get one more decade.
  *
  * Construction: `mul` vocabulary-disjoint replicas. Replica 0 is the
  * source corpus verbatim; replica k > 0 rewrites every token w → w⟨k⟩,
  * so replicas share NO shingles. That preserves the original's
  * duplicate structure, df distribution, and doc-length mix EXACTLY
  * within each replica while making the true pair graph precisely
  * mul × the original's — the ground truth is linear by construction,
  * so a measured super-linear slope is an engine problem, not a data
  * artifact. doc_ids are remapped to doc_id·mul + k (disjoint,
  * order-preserving within a replica).
  *
  * Usage: runMain graft.ScaleCorpus <srcSfDir> <outDir> <mul>
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mulStr) = args
    val mul = mulStr.toInt
    val spark = GraftSession()
    val docs = Tables.documents(spark, srcDir)
    val reps = spark.range(mul).select(col("id").cast("int").as("k"))
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") * mul + col("k")).as("doc_id"),
        when(col("k") === 0, col("text")).otherwise(concat_ws(" ",
          expr("transform(filter(split(trim(text), ' '), x -> x != ''), " +
            "w -> concat(w, '<', CAST(k AS STRING), '>'))"))).as("text"),
        col("lang"), col("source"))
      // n_chars recomputed from the REWRITTEN text (source rows verify
      // n_chars = length(text), and replica rows lengthen every token by
      // its <k> suffix — copying the source value verbatim would leave
      // 90% of the scaled corpus with metadata contradicting its text,
      // r13 ADVICE); bigint to match the source schema
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    // embeddings twin (r13): mul sign-flip replicas — replica k multiplies
    // element i by the ±1 Rademacher sign from xxhash64(k, i) (replica 0
    // verbatim), so every replica preserves the source's norms and
    // pairwise-geometry-within-replica exactly while replicas land far
    // apart (a sign flip of half the coordinates roughly orthogonalizes),
    // giving the ANN family an honest 10× cost decade: n grows 10×, the
    // quantizer grids (nClusters, codebooks) stay at their declared
    // sizes, so the measured slope isolates the engine, not the config.
    val embSrc = new java.io.File(s"$srcDir/embeddings.parquet")
    if (embSrc.exists()) {
      val emb = Tables.embeddings(spark, srcDir)
      emb.crossJoin(broadcast(reps))
        .select(
          (col("vec_id") * mul + col("k")).as("vec_id"),
          expr("""transform(embedding, (x, i) ->
                 |  CAST(CASE WHEN k = 0 THEN x
                 |       WHEN (xxhash64(k, i) & 1) = 1 THEN -x
                 |       ELSE x END AS FLOAT))""".stripMargin).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    println(s"SCALECORPUS wrote ${mul}x ${srcDir} -> $outDir")
    spark.stop()
  }
}
