package graft

import graft.operators.BandJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The banded-join kernel on hand-built keyed rows (no corpus): the
  * bucket cap drops exactly the buckets whose union count is over it, and
  * a probe is the new↔store slice of the self-join over the union. */
class BandJoinSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private val cap = 30
  private val keys = Seq("band", "key")

  /** (id, band, key): ids 0..119 take one key in each of bands 0..2 from a
    * small key range (buckets of ~15 rows), and ids 0..39 also share one
    * hot bucket (band 9, key 0) of 40 rows. Even ids are the store, odd
    * ids the new batch, so each half of the hot bucket (20 rows) is under
    * the cap while their union is over it. */
  private val rows: Seq[(Long, Int, Long)] = {
    val rnd = new scala.util.Random(11)
    val banded = for (id <- 0L until 120L; band <- 0 until 3)
      yield (id, band, rnd.nextInt(8).toLong)
    banded ++ (0L until 40L).map(id => (id, 9, 0L))
  }
  private def keyed(rs: Seq[(Long, Int, Long)]): DataFrame = rs.toDF("id", "band", "key")
  private val isNew: Long => Boolean = _ % 2 == 1

  /** Reference: (lo, hi, band, key) per pair sharing a bucket, over the
    * buckets whose row count in `rs` is within `cap`. */
  private def expected(rs: Seq[(Long, Int, Long)], cap: Option[Int]) =
    rs.groupBy(r => (r._2, r._3)).toSeq
      .filter { case (_, members) => cap.forall(members.size <= _) }
      .flatMap { case ((band, key), members) =>
        val ids = members.map(_._1).sorted
        for (i <- ids; j <- ids if i < j) yield (i, j, band, key)
      }.toSet

  private def collected(c: BandJoin.Candidates) =
    c.rows.select(c.lo, c.hi, col("a.band"), col("a.key"))
      .as[(Long, Long, Int, Long)].collect().toSet

  test("self and probe drop exactly the buckets whose union count is over the cap") {
    val all = expected(rows, None)
    val capped = expected(rows, Some(cap))
    assert(all.exists(_._3 == 9) && !capped.exists(_._3 == 9),
      "the hot bucket must be the one the cap drops")
    assert(collected(BandJoin.self(keyed(rows), "id", keys, Some(cap))) === capped)
    assert(collected(BandJoin.self(keyed(rows), "id", keys, None)) === all)
    val (fresh, store) = rows.partition(r => isNew(r._1))
    // each half of the hot bucket is under the cap: only a union count drops it
    assert(fresh.count(_._2 == 9) <= cap && store.count(_._2 == 9) <= cap)
    val cross = capped.filter(p => isNew(p._1) != isNew(p._2))
    assert(collected(BandJoin.probe(keyed(fresh), keyed(store), "id", keys, Some(cap))) === cross)
  }

  test("probe(new, store) is the new↔store slice of self(new ∪ store), capped or not") {
    val (fresh, store) = rows.partition(r => isNew(r._1))
    Seq(Some(cap), None).foreach { c =>
      val slice = collected(BandJoin.self(keyed(rows), "id", keys, c))
        .filter(p => isNew(p._1) != isNew(p._2))
      val probed = collected(BandJoin.probe(keyed(fresh), keyed(store), "id", keys, c))
      assert(probed === slice, s"cap $c")
      assert(probed.nonEmpty, s"cap $c")
    }
  }
}
