package graft

import org.apache.spark.sql.functions._

/** Knife-edge audit for the unigram-LM oracle family (q108/q109/q158) —
  * the measurement behind the replay block in `Unigram.scala`: the ONLY
  * cross-engine drift source in the unrolled EM replay is libm `ln()`
  * (every DP score accumulates one addition per step along each path in
  * both engines, so bit-identical log-probs make the whole DP — ties
  * included — bit-exact). This main:
  *  - replays the training loop with the production operators and dumps
  *    every distinct integer that feeds `ln` (piece counts + totals of
  *    all three log-prob tables) together with Java's `Math.log` value,
  *    for `tools/ln_knife_edge.py` to recompute in DuckDB — expected
  *    result: ZERO differing values (measured baseline: Java and DuckDB
  *    ln differ on ~2e-5 of the first 200k integers);
  *  - replays the Viterbi DP in plain Scala on the same doubles and
  *    reports decision margins — for every (word, position), the gap
  *    between the winning candidate and the closest candidate with a
  *    different backpointer (0 = exact tie, broken by the shared
  *    smallest-j rule), plus the 9-dp boundary distance of every final
  *    `logp` — defense-in-depth numbers for COVERAGE.md.
  *
  * Usage: runMain graft.UnigramKnifeEdge <sfDir> <outDir>
  */
object UnigramKnifeEdge {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    // distinct corpus words with counts (driver-side: vocab-sized)
    val vw = docs.select(explode(split(trim(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect().toMap

    // plain-Scala replay of the EM loop — same arithmetic, same order
    val maxL = operators.Unigram.maxPieceLen
    val unk = operators.Unigram.unkLogProb
    def seed: Map[String, Long] = {
      val subs = scala.collection.mutable.Map.empty[String, Long]
      for ((w, wc) <- vw; i <- 0 until w.length;
           j <- i until math.min(w.length, i + maxL))
        subs(w.substring(i, j + 1)) = subs.getOrElse(w.substring(i, j + 1), 0L) + wc
      val chars = subs.filter(_._1.length == 1)
      val multi = subs.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(60)
      (chars ++ multi).toMap
    }

    case class DpStats(minNonzeroMargin: Double, ties: Long, decisions: Long)
    // forward DP per word; returns pieces + margin stats
    def viterbi(w: String, lp: Map[String, Double]): (Seq[String], DpStats) = {
      val n = w.length
      val best = new Array[Double](n + 1)
      val bp = new Array[Int](n + 1)
      var minMargin = Double.PositiveInfinity
      var ties = 0L; var decisions = 0L
      for (i <- 1 to n) {
        var bs = Double.NaN; var bj = -1
        val cands = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
        for (j <- math.max(0, i - maxL) until i) {
          val piece = w.substring(j, i)
          val s =
            if (i - j == 1) best(j) + lp.getOrElse(piece, unk)
            else lp.get(piece).map(best(j) + _).getOrElse(Double.NaN)
          if (!s.isNaN) {
            cands += ((s, j))
            if (bj < 0 || s > bs) { bs = s; bj = j } // ties keep smallest j
          }
        }
        best(i) = bs; bp(i) = bj
        if (cands.size > 1) {
          decisions += 1
          val others = cands.filter(_._2 != bj).map(c => bs - c._1)
          if (others.nonEmpty) {
            val g = others.min
            if (g == 0.0) ties += 1 else minMargin = math.min(minMargin, g)
          }
        }
      }
      val ps = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) { ps.prepend(w.substring(bp(pos), pos)); pos = bp(pos) }
      (ps.toSeq, DpStats(minMargin, ties, decisions))
    }

    def logProbs(pieces: Map[String, Long]): Map[String, Double] = {
      val tot = pieces.values.sum.toDouble
      pieces.map { case (p, c) => p -> (math.log(c.toDouble) - math.log(tot)) }
    }

    var pieces = seed
    val lnInputs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val roundTables = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val segDump = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var allStats = List.empty[DpStats]
    def recordLnInputs(stage: Int, ps: Map[String, Long]): Unit = {
      ps.values.foreach(c => lnInputs += ((stage, c.toDouble)))
      lnInputs += ((stage, ps.values.sum.toDouble))
      ps.foreach { case (p, c) => roundTables += ((stage, p, c)) }
    }
    (1 to 2).foreach { r =>
      recordLnInputs(r, pieces)
      val lp = logProbs(pieces)
      val counts = scala.collection.mutable.Map.empty[String, Long]
      val stats = scala.collection.mutable.ArrayBuffer.empty[DpStats]
      for ((w, wc) <- vw) {
        val (ps, st) = viterbi(w, lp)
        ps.foreach(p => counts(p) = counts.getOrElse(p, 0L) + wc)
        segDump += ((r, w, ps.mkString(" ")))
        stats += st
      }
      allStats ++= stats
      pieces = pieces.keysIterator.map { p =>
        val c =
          if (p.length == 1) math.max(counts.getOrElse(p, 0L), 1L)
          else counts.getOrElse(p, 0L)
        p -> c
      }.filter(_._2 > 0).toMap
    }
    recordLnInputs(3, pieces) // final logp + q109's lpF inputs
    val lpF = logProbs(pieces)
    for ((w, _) <- vw) {
      val (ps, st) = viterbi(w, lpF)
      segDump += ((3, w, ps.mkString(" ")))
      allStats ::= st
    }

    // cross-check the plain replay against the distributed q108 face —
    // the audit is only meaningful if it audits the real thing
    val distributed = operators.Unigram
      .unigramTrain(docs, vocabSize = 60, emRounds = 2)
      .select("piece", "cnt").as[(String, Long)].collect().toMap
    require(distributed == pieces,
      s"audit replay diverged from the distributed face: ${
        (distributed.toSet diff pieces.toSet).take(5)} vs ${
        (pieces.toSet diff distributed.toSet).take(5)}")

    // 9-dp boundary distances of the final logp values
    val tot = pieces.values.sum.toDouble
    val dLogp = pieces.values.map { c =>
      val x = math.log(c.toDouble) - math.log(tot)
      val bd = new java.math.BigDecimal(x).abs
      val r = bd.setScale(9, java.math.RoundingMode.HALF_UP)
      new java.math.BigDecimal(java.math.BigInteger.valueOf(5), 10)
        .subtract(bd.subtract(r).abs).doubleValue
    }.min

    lnInputs.toSeq.toDF("stage", "v")
      .select(col("stage"), col("v"), log(col("v")).as("ln_java"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/ln_inputs")
    roundTables.toSeq.toDF("stage", "piece", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/round_tables")
    segDump.toSeq.toDF("stage", "w", "pieces")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/segs")

    val minMargin = allStats.map(_.minNonzeroMargin).min
    val ties = allStats.map(_.ties).sum
    val decisions = allStats.map(_.decisions).sum
    println(s"""{"sf_dir":"$sfDir","ln_inputs":${lnInputs.size},"dp_decisions":$decisions,"dp_exact_ties":$ties,"min_nonzero_margin":$minMargin,"min_logp_boundary_dist":$dLogp}""")
    spark.stop()
  }
}
