package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RangeJoinRewrite]] end-to-end through a real session:
  * the natural `abs(l.ts − r.ts) <= W` theta-join must (a) stop
  * planning as BroadcastNestedLoopJoin once the extension is
  * installed, and (b) return exactly the pairs a naive in-memory
  * all-pairs filter returns, on the real sf0.001 events table.
  */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private val W = 3600000L

  private def sides() = {
    val e = Tables.eventsMs(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_ms"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts_ms").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ts"))
    (clicks, purchases)
  }

  test("theta range join plans as an equi-join, not BNLJ") {
    val (clicks, purchases) = sides()
    val joined = clicks.join(purchases,
      abs(col("click_ts") - col("purchase_ts")) <= lit(W))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"rewrite did not fire:\n$physical")
    assert(!physical.contains("CartesianProduct"))
  }

  test("rewritten join == naive all-pairs filter on sf0.001 events") {
    val (clicks, purchases) = sides()
    val got = clicks.join(purchases,
        abs(col("click_ts") - col("purchase_ts")) <= lit(W))
      .select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cs = clicks.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (for {
      (cid, cts) <- cs; (pid, pts) <- ps if math.abs(cts - pts) <= W
    } yield (cid, pid)).toSet
    assert(want.nonEmpty, "fixture must produce matches")
    assert(got == want)
  }

  test("graft_long_dot is available in SQL without runtime registration") {
    val r = spark.sql(
      "SELECT graft_long_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()
    assert(r.head.getLong(0) == 32L)
  }

  test("mixed predicate (equi-key AND abs-range) keeps its native " +
      "equi-join: no bin explode, no Generate") {
    val e = Tables.eventsMs(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_ms"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ms").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts_ms").as("purchase_ts"))
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        abs(col("click_ts") - col("purchase_ts")) <= lit(W))
    val logical = joined.queryExecution.optimizedPlan.toString
    assert(!logical.contains("graft_range_bin"),
      s"rule fired on a join that already has an equi-key:\n$logical")
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("Generate"),
      s"unexpected explode in the mixed-predicate plan:\n$physical")
    assert(physical.contains("SortMergeJoin") ||
      physical.contains("ShuffledHashJoin") ||
      physical.contains("BroadcastHashJoin"),
      s"expected a hash/merge equi-join on user_id:\n$physical")
    // and the results still match the naive model
    val got = joined.select(col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cs = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = (for {
      (cu, cid, cts) <- cs; (pu, pid, pts) <- ps
      if cu == pu && math.abs(cts - pts) <= W
    } yield (cid, pid)).toSet
    assert(got == want)
  }

  test("plain equi-joins are left alone") {
    val (clicks, purchases) = sides()
    val joined = clicks.join(purchases,
      col("click_id") === col("purchase_id"))
    val logical = joined.queryExecution.optimizedPlan.toString
    assert(!logical.contains("graft_range_bin"))
  }
}
