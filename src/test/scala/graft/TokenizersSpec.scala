package graft

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the cross-family tokenizer audit (q158): the assembled rows
  * must agree with the individual faces (which carry their own
  * independent-reference cross-checks), and a fully-mergeable corpus
  * drives every family to fertility 1. */
class TokenizersSpec extends AnyFunSuite with SparkSessionTestWrapper {

  import operators.{Curation, Tokenizers, Unigram, Wordpiece}

  test("q158: a fully-mergeable corpus drives all three families to fertility 1") {
    import spark.implicits._
    // two distinct words, each frequent enough to merge to one unit in
    // every family; vocab coverage is total → zero [UNK]
    val docs = Seq((1L, "ab ab cd"), (2L, "cd ab cd")).toDF("doc_id", "text")
    val got = Tokenizers.tokenizerAudit(docs).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
    assert(got.map(_._1).toSeq === Seq("bpe", "unigram", "wordpiece"))
    got.foreach { case (name, nw, ns, unk, fert) =>
      assert(nw === 6L, s"$name n_words")
      assert(ns === 6L, s"$name n_subwords")
      assert(unk === 0L, s"$name unk")
      assert(fert === 1.0, s"$name fertility")
    }
  }

  test("q221: vocab overlap is exact on a corpus with known shared units") {
    import spark.implicits._
    // every family trains on 'abab'-heavy text: all three learn 'ab'
    // among their multi-char units, so every pairwise intersection is
    // non-empty and the counts are small enough to verify by hand
    val docs = Seq((1L, "abab abab ab"), (2L, "ab abab cd cd")).toDF("doc_id", "text")
    val got = Tokenizers.tokenizerVocabOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.map(t => (t._1, t._2)).toSeq ===
      Seq(("bpe", "unigram"), ("bpe", "wordpiece"), ("unigram", "wordpiece")))
    got.foreach { case (a, b, na, nb, nc, j) =>
      assert(nc >= 1, s"$a-$b must share at least the 'ab' unit")
      assert(nc <= math.min(na, nb), s"$a-$b intersection bound")
      val expected = BigDecimal(nc.toDouble / (na + nb - nc))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(j === expected, s"$a-$b jaccard arithmetic")
    }
    // the normalized unit sets must actually contain 'ab' everywhere
    val units = Seq(
      operators.Curation.bpeTrainMerges(docs)
        .select(org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.col("l"),
          org.apache.spark.sql.functions.col("r"))).as[String].collect().toSet,
      operators.Unigram.unigramTrain(docs).filter("length(piece) >= 2")
        .select("piece").as[String].collect().toSet)
    units.foreach(u => assert(u.contains("ab"), s"family missing 'ab': $u"))
  }

  test("q158 audit rows agree with the faces computed directly on sf0.001") {
    val docs = Tables.documents(spark, sf001)
    val got = Tokenizers.tokenizerAudit(docs).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap

    def agg(df: org.apache.spark.sql.DataFrame, subCol: String): (Long, Long) = {
      val r = df.selectExpr("CAST(sum(n_words) AS LONG)", s"CAST(sum($subCol) AS LONG)")
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    def fert(nw: Long, ns: Long): Double =
      BigDecimal(ns.toDouble / nw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    val bpeM = Curation.bpeTrainMerges(docs)
    val (bw, bs) = agg(Curation.bpeTokenize(docs, bpeM), "n_subwords")
    assert(got("bpe") === ((bpeM.count(), bw, bs, 0L, fert(bw, bs))))

    val wpM = Wordpiece.wordpieceTrainMerges(docs)
    val wpd = Wordpiece.wordpieceTokenize(docs, wpM)
    val (ww, ws) = agg(wpd, "n_subwords")
    val unk = wpd.selectExpr("CAST(sum(n_unk_words) AS LONG)").collect().head.getLong(0)
    assert(got("wordpiece") === ((wpM.count(), ww, ws, unk, fert(ww, ws))))

    val ugP = Unigram.unigramTrain(docs)
    val (uw, us) = agg(Unigram.unigramTokenize(docs, ugP), "n_pieces")
    assert(got("unigram") === ((ugP.count(), uw, us, 0L, fert(uw, us))))
  }

  test("inParallel cancels a sibling's running cluster job at the first failure") {
    val sc = spark.sparkContext
    val sleeperJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.LinkedBlockingQueue[(Int, Boolean)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "sleeper"))
          sleeperJobs.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (sleeperJobs.contains(e.jobId))
          ended.put((e.jobId, e.jobResult != org.apache.spark.scheduler.JobSucceeded))
    }
    sc.addSparkListener(listener)
    try {
      val start = System.nanoTime()
      intercept[IllegalStateException] {
        Tokenizers.inParallel(spark)(
          () => {
            sc.setJobDescription("sleeper")
            sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000); x }.count()
            spark.emptyDataFrame
          },
          () => { Thread.sleep(1000); throw new IllegalStateException("trainer failed") })
      }
      val end = ended.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(end != null, "the sleeping sibling job was still running 10 s later")
      assert(end._2, "the sibling job must end as failed (cancelled)")
      assert((System.nanoTime() - start) / 1e9 < 11.0)
    } finally sc.removeSparkListener(listener)
  }
}
