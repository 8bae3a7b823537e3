package graft

import graft.Bench._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The Bench record: gates and adjudication from synthetic lanes (no
  * Spark), the committed pins file, and one real run on sf0.001. */
class BenchSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def lane(name: String, median: Double, error: Option[String] = None) =
    LaneResult(name, median, Seq(median), error, Shuffle(0, 0, 0, 0),
      Retries(0, 0, ""), Host(1.0, 0.5))

  private val host = HostSummary(4, 1.0, 0.5, 0.5, Map.empty)

  /** Answers the n-th recheck of a lane from `answers`, recording calls. */
  private class Rechecks(answers: Map[(String, Int), Recheck]) {
    val calls = scala.collection.mutable.Buffer[(String, Int)]()
    def apply(name: String, n: Int): Recheck = { calls += name -> n; answers(name -> n) }
  }

  private def sweepGates(streaks: Map[String, Int] = Map.empty) =
    Gates(sweep = true, pins = Pins(Map("qa" -> 1.0, "qb" -> 1.0), Map.empty),
      streaks = streaks)

  private def tree(json: String) = Bench.mapper.readTree(json)

  test("sweep: a budget breach that clears on its one recheck reads match_on_recheck") {
    val rc = new Rechecks(Map(("qa", 1) -> Recheck(1.2, 3.0, None)))
    val rec = record(Seq(lane("qa", 2.5), lane("qb", 0.9)), "sf", 3, sweepGates(),
      rc(_, _), host)
    assert(rc.calls == Seq("qa" -> 1), "one recheck, only for the breaching lane")
    assert(rec.median_budget_status.get == Map("qa" -> "match_on_recheck", "qb" -> "match"))
    val adj = rec.budget_rechecks.get("qa")
    assert((adj.first_s, adj.recheck_s, adj.recheck_steal_pct) == ((2.5, 1.2, 3.0)))
    assert(rec.queries("qa") == 1.2 && rec.queries_raw("qa") == 2.5)
    assert(rec.value == 2.1 && rec.value_raw == 3.4)
    assert(!rec.failed)
    assert(rec.streaks.contains(Map("qa" -> 1)))
    assert(rec.tail.budget_breaches.isEmpty && rec.tail.rechecked_lanes.contains(1))
    // the same clear in the next sweep escalates to breach_on_repeat
    val again = record(Seq(lane("qa", 2.5), lane("qb", 0.9)), "sf", 3,
      sweepGates(Map("qa" -> 1)), rc(_, _), host)
    assert(again.median_budget_status.get("qa") == "breach_on_repeat")
    assert(again.failed && again.tail.budget_breaches == Seq("qa"))
    assert(again.streaks.contains(Map.empty[String, Int]))
  }

  test("sweep: a budget breach that reproduces on recheck stays breach and fails") {
    val rc = new Rechecks(Map(("qa", 1) -> Recheck(2.4, 0.1, None)))
    val rec = record(Seq(lane("qa", 2.5), lane("qb", 0.9)), "sf", 3, sweepGates(),
      rc(_, _), host)
    assert(rc.calls == Seq("qa" -> 1), "the sweep rechecks once, however slow")
    assert(rec.median_budget_status.get("qa") == "breach")
    assert(rec.budget_rechecks.get("qa").status == "breach")
    assert(rec.failed && rec.tail.budget_breaches == Seq("qa"))
    assert(rec.queries("qa") == 2.4, "adjudicated to the faster measured median")
    assert(rec.notes.exists(_.contains("MEDIAN BUDGET BREACH qa")))
  }

  test("headline: a second recheck that errors is recorded as recheck2_error") {
    val pins = Pins(Map("qa" -> 1.0), Map.empty)
    val rc = new Rechecks(Map(
      ("qa", 1) -> Recheck(2.0, 1.5, None),
      ("qa", 2) -> Recheck(0.4, 2.5, Some("SparkException: boom"))))
    val rec = record(Seq(lane("qa", 3.0)), "sf", 3, Gates(pins = pins), rc(_, _), host)
    assert(rc.calls == Seq("qa" -> 1, "qa" -> 2))
    assert(rec.budget_rechecks.get("qa").status == "slow_on_recheck")
    assert(rec.queries("qa") == 2.0)
    assert(!rec.failed && rec.median_budget_status.isEmpty, "headline rechecks are informational")
    val entry = tree(json(rec)).get("budget_rechecks").get("qa")
    assert(entry.get("recheck2_error").asText() == "SparkException: boom")
    assert(!entry.has("recheck2_s"), "an errored sample is not a timing")
    assert(!entry.has("recheck_error"))
  }

  test("a lane whose raw median is >= 1.3x its adjudicated one is listed as diverged") {
    val pins = Pins(Map("qa" -> 1.0, "qb" -> 1.0), Map.empty)
    val rc = new Rechecks(Map(
      ("qa", 1) -> Recheck(1.0, 0.0, None),
      ("qb", 1) -> Recheck(1.25, 0.0, None)))
    val rec = record(Seq(lane("qa", 3.0), lane("qb", 1.4), lane("qc", 0.2)), "sf", 3,
      Gates(pins = pins), rc(_, _), host)
    assert(rec.budget_rechecks.get.keySet == Set("qa", "qb"))
    assert(rec.adjudication_diverged == Seq("qa"), "qb's 1.4/1.25 stays under 1.3x")
    val both = Seq(json(rec), json(rec.tail)).map(tree)
    both.foreach(t => assert(t.get("adjudication_diverged").get(0).asText() == "qa"))
  }

  test("the committed pins file holds 253 budget pins and one sweep allowance") {
    val pins = Pins.load("bench_full_pins.json")
    assert(pins.budget.size == 253)
    assert(pins.sweepAllowance == Map("x55b_cosine_pairs_lsh_native" -> 1.4))
    assert(pins.budget.keySet.forall(k => k.startsWith("q") || k.startsWith("x")))
  }

  test("Bench.run names a failing lane, fails, prints parseable lines and removes its listener") {
    def listeners: Seq[String] = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("listeners").invoke(bus)
        .asInstanceOf[java.util.List[AnyRef]].asScala.map(_.getClass.getName).toSeq
    }
    spark.sharedState // registers the SQL listener before the snapshot
    val before = listeners
    val lanes: Map[String, Lane] = Map(
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary"),
      "zz_fails" -> ((s: SparkSession, _: String) => s.sql("SELECT raise_error('bench spec')")))
    val rec = Bench.run(spark, sf001, lanes, runsPerQuery = 1)
    assert(rec.failed && rec.errors("zz_fails").exists(_.contains("bench spec")))
    assert(rec.tail.errors.keySet == Set("zz_fails"))
    val first = tree(json(rec))
    val last = tree(json(rec.tail))
    assert(first.get("metric").asText() == "total" && last.get("metric").asText() == "total")
    assert(first.get("errors").get("q01_pricing_summary").isNull)
    assert(first.get("queries").get("q01_pricing_summary").asDouble() > 0)
    assert(last.get("queries").size() == 2 && last.get("value").isNumber)
    Seq("failed", "notes", "streaks").foreach(k => assert(!first.has(k)))
    assert(!first.has("shuffle_pin_status"), "no shuffle pins off the pinned SF")
    assert(listeners.filterNot(before.contains).isEmpty, "Bench.run left a listener")
    assert(!listeners.exists(_.startsWith("graft.Bench")))
  }
}
