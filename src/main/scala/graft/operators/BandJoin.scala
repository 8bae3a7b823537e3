package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate join under every near-duplicate family: MinHash
  * and SimHash ([[Dedup]]), cosine LSH ([[Similarity]]), image dHash and
  * video frames ([[ImageHash]]).
  *
  * A family keys each row into buckets (`keys`, e.g. (band, key)), applies
  * its own barrier to the keyed frame, and calls [[self]] for the pairs
  * within one relation or [[probe]] for the pairs between a new batch and
  * a store. Two rows are candidates when they share a bucket; the family
  * then scores the candidates and applies its keep predicate. Candidate
  * generation is an equi-join on the bucket keys, so the shuffle is
  * O(rows × buckets per row), never all-pairs.
  *
  * The incremental contract: with disjoint ids, `probe(new, store)` is
  * exactly the new↔store slice of `self(new ∪ store)`, because a key
  * depends only on its own row, and the bucket cap counts the same union.
  */
object BandJoin {

  /** Candidate rows of a banded join. The sides are aliased `a` and `b`;
    * a pair that shares several buckets appears once per bucket. `lo` and
    * `hi` are the pair's lower and higher id. */
  final case class Candidates(rows: DataFrame, lo: Column, hi: Column)

  /** Pairs within `keyed`, `a.id < b.id`. */
  def self(keyed: DataFrame, id: String, keys: Seq[String],
      cap: Option[Int]): Candidates = {
    val rows = cap.fold(keyed)(c => keyed.join(overCap(Seq(keyed), keys, c), keys, "left_anti"))
    Candidates(rows.as("a").join(rows.as("b"), sameBucket(keys) && col(s"a.$id") < col(s"b.$id")),
      col(s"a.$id"), col(s"b.$id"))
  }

  /** Pairs between `newKeyed` (side `a`) and `storeKeyed` (side `b`) only,
    * never store × store. Either side may hold the lower id. */
  def probe(newKeyed: DataFrame, storeKeyed: DataFrame, id: String, keys: Seq[String],
      cap: Option[Int]): Candidates = {
    val (n, s) = cap match {
      case Some(c) =>
        val over = overCap(Seq(newKeyed, storeKeyed), keys, c)
        (newKeyed.join(over, keys, "left_anti"), storeKeyed.join(over, keys, "left_anti"))
      case None => (newKeyed, storeKeyed)
    }
    Candidates(n.as("a").join(s.as("b"), sameBucket(keys) && col(s"a.$id") =!= col(s"b.$id")),
      least(col(s"a.$id"), col(s"b.$id")), greatest(col(s"a.$id"), col(s"b.$id")))
  }

  private def sameBucket(keys: Seq[String]): Column =
    keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)

  /** The skew guard: bucket keys whose row count over the union of `sides`
    * exceeds `cap`, broadcast for the anti-joins that drop them. One
    * degenerate bucket turns the join quadratic (a 100k-row bucket is
    * 5×10⁹ pairs), and AQE skew handling splits the shuffle, not the pair
    * count, so the bucket must go before the join. By pigeonhole the list
    * has at most n/cap keys. Counting over the union is what makes [[probe]]
    * drop exactly the buckets [[self]] over the union drops: capping each
    * side alone would keep a bucket whose halves are both under the cap
    * while their join still blows up. */
  private def overCap(sides: Seq[DataFrame], keys: Seq[String], cap: Int): DataFrame =
    broadcast(sides.map(_.select(keys.map(col): _*)).reduce(_ union _)
      .groupBy(keys.head, keys.tail: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .drop("bucket_n"))
}
