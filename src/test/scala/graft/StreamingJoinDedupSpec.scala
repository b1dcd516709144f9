package graft

import graft.streaming.StatefulRunner.KEv
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** e43 (stream-stream interval join) and e44 (streaming dedup)
  * mechanics that the oracle hash alone cannot pin:
  *
  *  - the join range is INCLUSIVE on both ends (Δt ∈ {0, W, W+1 ms}
  *    crafted pairs — the production fixture has no exact-boundary
  *    pair, so only this spec can catch an off-by-one);
  *  - pairs form across micro-batch boundaries (click buffered in the
  *    join state store matches a purchase arriving batches later);
  *  - dedup is FIRST-arrival-wins (the registered e44 fixture keeps
  *    duplicates field-identical so the oracle gate is pure
  *    multiplicity; here the duplicate carries a different value and
  *    the kept value must be the first);
  *  - a duplicate arriving in a LATER batch is still suppressed
  *    (dedup state crosses the boundary).
  */
class StreamingJoinDedupSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private val W = 86400000L // e43's 24 h attribution window
  private val t0 = 1700000000000L

  private def joinStreams(clicksDs: org.apache.spark.sql.Dataset[KEv],
      purchDs: org.apache.spark.sql.Dataset[KEv]) = {
    val clicks = clicksDs.toDF()
      .select(col("key"), col("ts").as("c_ts"), col("text").as("c_id"),
        timestamp_millis(col("ts")).as("c_t"))
      .withWatermark("c_t", "10 days")
    val purchases = purchDs.toDF()
      .select(col("key").as("p_key"), col("text").as("p_id"),
        col("value").as("p_val"), timestamp_millis(col("ts")).as("p_t"))
      .withWatermark("p_t", "10 days")
    clicks.join(purchases,
      col("key") === col("p_key") &&
      col("p_t") >= col("c_t") &&
      col("p_t") <= col("c_t") + expr("INTERVAL 24 HOURS"))
  }

  private def kev(key: String, topic: Int, ts: Long, value: Double,
      id: String, seq: Long): KEv =
    KEv(key, topic, ts, value, id, paused = false, seq = seq)

  test("interval join: range inclusive on both ends, pairs form across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[KEv]
    val purch = MemoryStream[KEv]
    val q = joinStreams(clicks.toDS(), purch.toDS())
      .select(col("c_id"), col("p_id"))
      .writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      // batch 1: the click only — it must be BUFFERED in join state
      clicks.addData(kev("u", 0, t0, 0.0, "c1", 1))
      q.processAllAvailable()
      // batch 2: purchases at Δ0 (match), ΔW (match: inclusive end),
      // ΔW+1ms (no match), Δ-1ms (before the click: no match)
      purch.addData(
        kev("u", 1, t0, 5.0, "p0", 2),
        kev("u", 1, t0 + W, 6.0, "pW", 3),
        kev("u", 1, t0 + W + 1, 7.0, "pX", 4),
        kev("u", 1, t0 - 1, 8.0, "pB", 5))
      q.processAllAvailable()
      val got = spark.table("sj_out").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("c1", "p0"), ("c1", "pW")))
    } finally q.stop()
  }

  test("dedup: first arrival wins, duplicate suppressed across " +
      "micro-batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KEv]
    val q = mem.toDS().toDF()
      .withColumn("et", timestamp_millis(col("ts")))
      .withWatermark("et", "40 days")
      .dropDuplicatesWithinWatermark("key", "text")
      .select(col("key"), col("text"), col("value"))
      .writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    try {
      mem.addData(kev("u", 0, t0, 1.0, "e1", 1))
      q.processAllAvailable()
      // batch 2: redelivery of e1 with a DIFFERENT value (must be
      // suppressed — first wins), plus a fresh event
      mem.addData(kev("u", 1, t0, 99.0, "e1", 2),
        kev("u", 0, t0 + 1000, 2.0, "e2", 3))
      q.processAllAvailable()
      val got = spark.table("dd_out").collect()
        .map(r => (r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
      assert(got == Seq(("e1", 1.0), ("e2", 2.0)))
    } finally q.stop()
  }

  test("join state survives a query restart from checkpoint: a click " +
      "buffered before the stop matches a purchase arriving after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("sj-ckpt").toString
    val outDir = tempDir("sj-out").toString
    val clicks = MemoryStream[KEv]
    val purch = MemoryStream[KEv]
    def start() = joinStreams(clicks.toDS(), purch.toDS())
      .select(col("c_id"), col("p_id"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      clicks.addData(kev("u", 0, t0, 0.0, "c1", 1))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: the buffered click must be restored from the join
    // state store, not lost with the first query's JVM-side state
    val q2 = start()
    try {
      purch.addData(kev("u", 1, t0 + 1000, 5.0, "p1", 2))
      q2.processAllAvailable()
      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("c1", "p1")))
    } finally q2.stop()
  }

  test("e46 chained join->window-agg stream == batch formulation at " +
      "sf0.001 (all windows flushed, exact integer cents)") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("e46_stream_join_agg")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val e = Tables.eventsMs(spark, sf)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts_ms").as("cts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_ms").as("pts"),
        round(col("value") * 100).cast("long").as("cents"))
    val want = c.join(p, col("u") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + W)
      .groupBy(((col("cts") / W).cast("long") * W).as("day_ms"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("rc"))
      .orderBy(col("day_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("e47 class: stream-static dim join is stateless, broadcast, " +
      "and enriches keys arriving in later micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dimDir = tempDir("dim").toString
    Seq(("u1", "SEG_A"), ("u2", "SEG_B"), ("u3", "SEG_C"))
      .toDF("k", "seg").coalesce(1).write.mode("overwrite").parquet(dimDir)
    val mem = MemoryStream[KEv]
    val dim = broadcast(spark.read.parquet(dimDir))
    val q = mem.toDS().toDF()
      .join(dim, col("key") === col("k"))
      .select(col("key"), col("text"), col("seg"))
      .writeStream.format("memory").queryName("dim_out")
      .outputMode("append").start()
    try {
      mem.addData(kev("u1", 0, t0, 1.0, "e1", 1),
        kev("u9", 0, t0, 1.0, "eX", 2)) // no dim row: dropped (inner)
      q.processAllAvailable()
      // a key first seen in batch 2 joins with NO state carried —
      // the lookup is per-batch re-execution, not buffered state
      mem.addData(kev("u2", 0, t0 + 1000, 2.0, "e2", 3))
      q.processAllAvailable()
      val got = spark.table("dim_out").collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(got == Set(("e1", "SEG_A"), ("e2", "SEG_B")))
      // the class properties e47's oracle hash can't see: the executed
      // micro-batch plan broadcasts the dim (stream side un-shuffled)
      // and contains NO stateful operator
      val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(500))
      assert(!plan.contains("StateStore"), plan.take(500))
    } finally q.stop()
  }

  test("e48 class: left-outer null row is emitted ONLY once the " +
      "watermark proves no future purchase can match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[KEv]
    val purch = MemoryStream[KEv]
    val c = clicks.toDS().toDF()
      .select(col("key"), col("text").as("c_id"),
        timestamp_millis(col("ts")).as("c_t"))
      .withWatermark("c_t", "0 seconds")
    val p = purch.toDS().toDF()
      .select(col("key").as("p_key"), col("text").as("p_id"),
        timestamp_millis(col("ts")).as("p_t"))
      .withWatermark("p_t", "0 seconds")
    val q = c.join(p,
        col("key") === col("p_key") &&
        col("p_t") >= col("c_t") &&
        col("p_t") <= col("c_t") + expr("INTERVAL 24 HOURS"),
        "leftOuter")
      .select(col("c_id"), col("p_id"))
      .writeStream.format("memory").queryName("lj_out")
      .outputMode("append").start()
    def got() = spark.table("lj_out").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    try {
      // batch 1: two clicks; u's will pair, v's never will
      clicks.addData(kev("u", 0, t0, 0.0, "cu", 1),
        kev("v", 0, t0, 0.0, "cv", 2))
      q.processAllAvailable()
      // batch 2: u's purchase arrives — the MATCH emits on arrival,
      // but cv must NOT emit yet: the watermark (still ≤ t0) cannot
      // prove v's window is unmatchable
      purch.addData(kev("u", 1, t0 + 1000, 5.0, "pu", 3))
      q.processAllAvailable()
      assert(got() == Set(("cu", Some("pu")))) // no premature null row
      // batches 3+: event time advances past t0+24h on BOTH branches
      // (the global watermark is the branch min); eviction of cv's
      // buffered state then emits the null-extended row
      clicks.addData(kev("zz", 0, t0 + 3 * W, 0.0, "zc", 4))
      purch.addData(kev("zz2", 1, t0 + 3 * W, 0.0, "zp", 5))
      q.processAllAvailable()
      clicks.addData(kev("zz", 0, t0 + 4 * W, 0.0, "zc2", 6))
      purch.addData(kev("zz2", 1, t0 + 4 * W, 0.0, "zp2", 7))
      q.processAllAvailable()
      assert(got().contains(("cv", None)))
      assert(!got().exists { case (id, po) => id == "cu" && po.isEmpty })
    } finally q.stop()
  }

  test("e48 registered stream == batch left-outer interval join at " +
      "sf0.001 (matched pairs + never-converted nulls)") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("e48_stream_left_outer")(spark, sf)
      .collect()
      .map(r => (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val e = Tables.eventsMs(spark, sf)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts_ms").as("cts"),
        col("event_id").as("cid"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_ms").as("pts"),
        col("event_id").as("pid"))
    val want = c.join(p, col("u") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + W,
        "left_outer")
      .select(col("cid"), coalesce(col("pid"), lit(-1L)).as("pid"))
      .orderBy(col("cid"), col("pid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(want.exists(_._2 == -1L), "fixture must contain unmatched clicks")
    assert(want.exists(_._2 != -1L), "fixture must contain matched clicks")
  }

  test("e43 registered stream == batch interval join at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("e43_stream_stream_join")(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    val e = Tables.eventsMs(spark, sf)
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("ts_ms").as("cts"),
        col("event_id").as("cid"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_ms").as("pts"),
        col("event_id").as("pid"))
    val want = c.join(p, col("u") === col("pu") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + W)
      .select(col("cid"), col("pid"))
      .orderBy(col("cid"), col("pid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(want.nonEmpty)
  }
}
