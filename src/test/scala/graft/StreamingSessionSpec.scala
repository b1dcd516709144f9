package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** e42 (streaming sessionization): the session_window ↔
  * gaps-and-islands equivalence. session_window(gap) merges two events
  * iff Δt ≤ gap (the window closes at start+gap INCLUSIVE — measured,
  * not assumed: an earlier formulation used gap+1 on the belief the
  * close was exclusive, and only a crafted Δt == gap+1 fixture caught
  * it; the production data has no exact-boundary pair, so the oracle
  * hash alone could not), which is exactly the islands formulation's
  * breaks-on-strictly-greater rule at the SAME gap. The boundary test
  * pins Δt ∈ {gap−1, gap, gap+1}; the parity test runs the real
  * file-source stream mount against the batch formulation. */
class StreamingSessionSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private val GapMs = 1800000L

  /** Batch gaps-and-islands sessions (e18 semantics) regrouped to
    * (user, start, end, count). */
  private def islands(df: org.apache.spark.sql.DataFrame) = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("brk",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > GapMs, 1)
          .otherwise(0))
      .withColumn("session", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .orderBy(col("user_id"), col("start_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
  }

  test("session_window(gap) == gaps-and-islands(gap) exactly ON the " +
      "boundary (deltas gap-1, gap, gap+1)") {
    import spark.implicits._
    val t0 = 1700000000000L
    // user 1: delta == gap (one session in BOTH formulations)
    // user 2: delta == gap+1 (two sessions in both)
    // user 3: delta == gap-1 then a gap+2 break then a chain
    val rows = Seq(
      (1L, t0, 1L), (1L, t0 + GapMs, 2L),
      (2L, t0, 3L), (2L, t0 + GapMs + 1, 4L),
      (3L, t0, 5L), (3L, t0 + GapMs - 1, 6L),
      (3L, t0 + GapMs - 1 + GapMs + 2, 7L),
      (3L, t0 + GapMs - 1 + GapMs + 2 + 10, 8L))
    val df = rows.toDF("user_id", "ts_ms", "event_id")
    val viaIslands = islands(df)
    val viaWindow = df
      .withColumn("tsc", timestamp_millis(col("ts_ms")))
      .groupBy(col("user_id"),
        session_window(col("tsc"), s"$GapMs milliseconds"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
      .orderBy(col("user_id"), col("start_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaWindow.toSeq == viaIslands.toSeq)
    // shape sanity: user1 one session, user2 two, user3 two
    assert(viaIslands.count(_._1 == 1L) == 1)
    assert(viaIslands.count(_._1 == 2L) == 2)
    assert(viaIslands.count(_._1 == 3L) == 2)
  }

  test("e42 stream (file-source, 3 data batches + 2 sentinel batches) " +
      "== batch islands on the events table") {
    val got = SparkEntry.queries("e42_streaming_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = islands(Tables.eventsMs(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_id")))
    assert(got.toSeq == want.toSeq)
    // sessions genuinely span micro-batches: with 15 users and ~200
    // events over 3 chunks, at least one session must contain events
    // from more than one chunk; equality with the unchunked batch fold
    // plus n_events totals proves no session was split at a boundary.
    assert(got.map(_._4).sum ==
      Tables.eventsMs(spark, sf).count())
  }
}
