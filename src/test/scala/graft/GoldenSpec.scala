package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Golden-result pins for the `no_oracle` queries (VERDICT r8 #6): their
  * outputs are deterministic given params and data (partition independence
  * is proven by tools/determinism.py), so run-over-run exactness is
  * checkable WITHOUT DuckDB — the committed hash below is the canonical
  * digest of the full result set on the fixed testdata. A sketch/ANN
  * "optimization" that changes any value, row, or column now fails here
  * instead of slipping through the rows-only driver check.
  *
  * Regenerate after an INTENTIONAL semantic change:
  * `sbt "Test/runMain graft.GoldenHashes"` prints the current map. */
object GoldenSpec {
  /** Canonical result digest: columns sorted by name, every value rendered
    * with a fixed format (doubles at 9 decimals — all golden queries
    * produce either exact decimals or values derived from integer/bit
    * arithmetic, stable to far more than 9 places), rows sorted as
    * strings, SHA-256 over the joined block, first 16 hex chars. */
  def goldenHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case null => "null"
      case d: Double => f"$d%.9f"
      case f: Float => f"$f%.9f"
      case a: Array[_] => a.mkString("[", ",", "]")
      case s: Seq[_] => s.mkString("[", ",", "]")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }.mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  val queries: Seq[String] = Seq(
    "q52_minhash_lsh_pairs", "q53_simhash_pairs", "q55b_cosine_pairs_lsh",
    "q56_ann_lsh_topk", "q65_ivf_topk", "q66_quantized_topk",
    "q89_vocab_sketch", "q98_source_overlap_sketch", "q102_bpe_train_merges",
    "q103_bpe_tokenize",
    // the seven events-backed queries (r9 verdict #5): oracle-checked by
    // the driver, but ALSO golden-pinned here so the next environmental
    // drift (e.g. a testdata timestamp-encoding change) fails the repo's
    // own suite instead of silently dropping queries from the driver diff
    "q19_json_funcs", "q33_watermark_batch_dedup", "q36_tumbling_window",
    "q37_sliding_window", "q70_asof_join", "q71_range_join_binned",
    "q75_session_window",
    // r10: unigram-LM tokenizer faces (no SQL oracle — Viterbi; the
    // independent reference EM lives in UnigramSpec) and the quality
    // classifier (reference LR in ClassifierSpec)
    "q108_unigram_train", "q109_unigram_tokenize",
    "q110_quality_classifier_train", "q111_quality_classifier_score",
    // r10 continuation: WordPiece faces (no SQL oracle — iterative
    // argmax; the independent reference lives in WordpieceSpec)
    "q119_wordpiece_train", "q120_wordpiece_tokenize",
    // r10 continuation: bloom decontamination (bit array is
    // engine-internal; CurationSpec pins superset-of-exact + FPR)
    "q123_bloom_decontamination",
    // r10 continuation: SemDeDup (iterative k-means; SimilaritySpec
    // gates refinement-of-exact + recall + the keep rule)
    "q136_semdedup_kmeans",
    // r10 third wave: tokenizer bake-off (aggregates of the three
    // already-cross-checked families) and perceptual image near-dup
    // (byte-level decode; reference dHash in ImageHashSpec)
    "q158_tokenizer_audit", "q159_image_dhash_pairs",
    // r10 third wave: k-center greedy coreset (iterative farthest-point;
    // plain-Scala replay in SimilaritySpec) and the audio fingerprint
    // (byte-level decode; reference energy hash in ImageHashSpec)
    "q160_kcenter_coreset", "q164_audio_fingerprint_pairs",
    // r10 third wave: incremental media dedup (batch face of the
    // streaming sink; ImageHashSpec pins equivalence with q159's full
    // face)
    "q172_media_dedup_incremental",
    // r10 third wave: HLL rolling actives (DuckDB's HLL is a different
    // implementation; EventAnalyticsSpec gates accuracy vs the exact
    // q161 face and pins merge associativity)
    "q169_rolling_actives_sketch",
    // r10 fourth session: active-learning batch (rides the no-oracle
    // classifier; ClassifierSpec pins the uncertainty cut) and the
    // cluster purity/NMI audit (k-means; planted contingencies
    // reference-checked in SimilaritySpec)
    "q181_active_learning_batch", "q187_cluster_purity",
    // r10 fourth session: minhash error audit (est_jaccard is
    // signature-internal; DedupSpec plants the zero-error case) and the
    // conformal threshold (classifier scores; order-statistic replay in
    // ClassifierSpec)
    "q189_minhash_error_audit", "q190_conformal_threshold",
    // r11: PQ-ADC top-k and IVF-PQ (codebooks are engine-internal;
    // SimilaritySpec gates recall at the AnnSweep operating points)
    "q204_pq_adc_topk", "q205_ivfpq_topk",
    // r11: KMV direct-intersection overlap (hash-sketch internals;
    // CurationSpec gates error vs exact q96 + sub-k exactness + merge)
    "q208_source_overlap_kmv")

  val sfDirs: Seq[(String, String)] = Seq(
    "sf0.001" -> "/root/testdata/sf0.001",
    "sf0.01" -> "/root/testdata/sf0.01")

  /** Committed digests — regenerate via GoldenHashes on intentional change. */
  val expected: Map[(String, String), String] = Map(
    ("q52_minhash_lsh_pairs", "sf0.001") -> "5852f584cc71de82",
    ("q52_minhash_lsh_pairs", "sf0.01") -> "f12a6f3cfad01bff",
    ("q53_simhash_pairs", "sf0.001") -> "3123bb83ee31bbcb",
    ("q53_simhash_pairs", "sf0.01") -> "d244b2372b6444ab",
    ("q55b_cosine_pairs_lsh", "sf0.001") -> "370595b788d7f463",
    ("q55b_cosine_pairs_lsh", "sf0.01") -> "df62ecb07a8ef4af",
    ("q56_ann_lsh_topk", "sf0.001") -> "5d031c801245e72e",
    ("q56_ann_lsh_topk", "sf0.01") -> "44f027c3c528560a",
    ("q65_ivf_topk", "sf0.001") -> "4658a205e9efe1e5",
    ("q65_ivf_topk", "sf0.01") -> "c3336e1a26affcf6",
    ("q66_quantized_topk", "sf0.001") -> "74936c4d9c4cfe63",
    ("q66_quantized_topk", "sf0.01") -> "ade62389b8ada8c1",
    ("q89_vocab_sketch", "sf0.001") -> "1074d9f6f3b9de29",
    ("q89_vocab_sketch", "sf0.01") -> "5e7778d24a6d06c2",
    ("q98_source_overlap_sketch", "sf0.001") -> "c840d601c32419d4",
    ("q98_source_overlap_sketch", "sf0.01") -> "1a05891600d0758b",
    ("q102_bpe_train_merges", "sf0.001") -> "e2652369fc3f0f11",
    ("q102_bpe_train_merges", "sf0.01") -> "6a0f9649e6c3b7af",
    ("q103_bpe_tokenize", "sf0.001") -> "4d19e644f80046f1",
    ("q103_bpe_tokenize", "sf0.01") -> "4fe939d18d97e96c",
    ("q19_json_funcs", "sf0.001") -> "225b47f7c09907e4",
    ("q19_json_funcs", "sf0.01") -> "5ae5e2fba67795f0",
    ("q33_watermark_batch_dedup", "sf0.001") -> "91dbfbf99ff4eb22",
    ("q33_watermark_batch_dedup", "sf0.01") -> "5ba348554c2f1126",
    ("q36_tumbling_window", "sf0.001") -> "4921d45ed75f1842",
    ("q36_tumbling_window", "sf0.01") -> "3651ea03d561bf23",
    ("q37_sliding_window", "sf0.001") -> "826df40c92531ac2",
    ("q37_sliding_window", "sf0.01") -> "22c5dc54e66ea3b0",
    ("q70_asof_join", "sf0.001") -> "3e40fe9860ced4a9",
    ("q70_asof_join", "sf0.01") -> "cc767e6eefc72ad1",
    ("q71_range_join_binned", "sf0.001") -> "ca7be040e4927e2d",
    ("q71_range_join_binned", "sf0.01") -> "6861399190a9b073",
    ("q75_session_window", "sf0.001") -> "f98d9d5167482d31",
    ("q75_session_window", "sf0.01") -> "29a047ffb0d764df",
    ("q108_unigram_train", "sf0.001") -> "795fdae689839537",
    ("q108_unigram_train", "sf0.01") -> "3048e729d6eacbab",
    ("q109_unigram_tokenize", "sf0.001") -> "a08e25427c75d139",
    ("q109_unigram_tokenize", "sf0.01") -> "bd5bea0ca0486751",
    ("q110_quality_classifier_train", "sf0.001") -> "d3d88204a3851a01",
    ("q110_quality_classifier_train", "sf0.01") -> "fa5ec9532846bc34",
    ("q111_quality_classifier_score", "sf0.001") -> "b7cc007ff1ee17f5",
    ("q111_quality_classifier_score", "sf0.01") -> "105c45328c918dc8",
    ("q119_wordpiece_train", "sf0.001") -> "aa2cf7161b66d7ca",
    ("q119_wordpiece_train", "sf0.01") -> "11bbe2b0b6cadd61",
    ("q120_wordpiece_tokenize", "sf0.001") -> "d389acfd646ca42d",
    ("q120_wordpiece_tokenize", "sf0.01") -> "d6c406757519aa84",
    ("q123_bloom_decontamination", "sf0.001") -> "4ea004286d83c7aa",
    ("q123_bloom_decontamination", "sf0.01") -> "0c06940b854db909",
    ("q136_semdedup_kmeans", "sf0.001") -> "ac3170b81e68255f",
    ("q136_semdedup_kmeans", "sf0.01") -> "5db1cb8fede3444f",
    ("q158_tokenizer_audit", "sf0.001") -> "6435e92f04a41548",
    ("q158_tokenizer_audit", "sf0.01") -> "ca4cc02f554c14a7",
    ("q159_image_dhash_pairs", "sf0.001") -> "118234f792dae49e",
    ("q159_image_dhash_pairs", "sf0.01") -> "a481e985f45deef2",
    ("q160_kcenter_coreset", "sf0.001") -> "17526ab5fb792b27",
    ("q160_kcenter_coreset", "sf0.01") -> "dc99c75c0c163a3e",
    ("q164_audio_fingerprint_pairs", "sf0.001") -> "f16ece109da5ceb7",
    ("q164_audio_fingerprint_pairs", "sf0.01") -> "5bf01afeec64c725",
    ("q169_rolling_actives_sketch", "sf0.001") -> "b8e127d99cf2809e",
    ("q169_rolling_actives_sketch", "sf0.01") -> "be1d84e0e4420117",
    // identical to q159's digests BY DESIGN: on this corpus every full-
    // face pair is an (even original, odd sibling) pair, so the
    // incremental restriction loses nothing — ImageHashSpec pins the
    // equivalence explicitly
    ("q172_media_dedup_incremental", "sf0.001") -> "118234f792dae49e",
    ("q172_media_dedup_incremental", "sf0.01") -> "a481e985f45deef2",
    ("q181_active_learning_batch", "sf0.001") -> "3cb8a21303424ba1",
    ("q181_active_learning_batch", "sf0.01") -> "3f9a9eaaed87f2df",
    ("q187_cluster_purity", "sf0.001") -> "f31bdf695801f6d7",
    ("q187_cluster_purity", "sf0.01") -> "7ccc5eda1cc9ff1d",
    ("q189_minhash_error_audit", "sf0.001") -> "e857901189682b8c",
    ("q189_minhash_error_audit", "sf0.01") -> "756108161e01c2e0",
    ("q190_conformal_threshold", "sf0.001") -> "532dea5284a7fd36",
    ("q190_conformal_threshold", "sf0.01") -> "543a2c66213b2684",
    ("q204_pq_adc_topk", "sf0.001") -> "a37c5554e87f1fea",
    ("q204_pq_adc_topk", "sf0.01") -> "450ec6775f740993",
    ("q205_ivfpq_topk", "sf0.001") -> "7c3bb5440f0b130c",
    ("q205_ivfpq_topk", "sf0.01") -> "79bcb6a9f54aa75e",
    ("q208_source_overlap_kmv", "sf0.001") -> "07d79d7441fafa79",
    ("q208_source_overlap_kmv", "sf0.01") -> "28ba5a3e118da304")
}

/** Prints the current golden map — paste into [[GoldenSpec.expected]]. */
object GoldenHashes {
  def main(args: Array[String]): Unit = {
    // pinned at the test session's 4 cores, where GoldenSpec checks the map
    val spark = GraftSession(cores = Some(4))
    // optional args narrow the regeneration to the named queries
    val wanted = if (args.isEmpty) GoldenSpec.queries
      else GoldenSpec.queries.filter(args.contains)
    for (q <- wanted; (sfName, dir) <- GoldenSpec.sfDirs) {
      val h = GoldenSpec.goldenHash(SparkEntry.all(q).fn(spark, dir))
      println(s"""GOLDEN ("$q", "$sfName") -> "$h",""")
    }
    spark.stop()
  }
}

class GoldenSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import GoldenSpec._
  for (q <- queries; (sfName, dir) <- sfDirs)
    test(s"golden pin: $q @ $sfName") {
      val h = goldenHash(SparkEntry.all(q).fn(spark, dir))
      assert(h == expected((q, sfName)),
        s"$q @ $sfName digest changed: got $h, pinned ${expected((q, sfName))} — " +
          "if the semantic change is intentional, regenerate via " +
          "`Test/runMain graft.GoldenHashes` and update the map in the same commit")
    }
}
