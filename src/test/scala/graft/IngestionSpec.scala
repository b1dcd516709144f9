package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-tolerant ingestion of the events table (SURVEY §1.2's
  * "variant-style escape hatch"; reference behavior: every task
  * validates the payload subset it understands and tolerates shape
  * drift, /root/reference/streamtasks/system/tasks/calculator.py:233-236).
  *
  * The driver has shipped events.parquet with different physical `ts`
  * encodings across regenerations — int64 epoch-nanos (rounds ≤6) and
  * timestamp[us] isAdjustedToUTC=false (round 7+) — and parquet written
  * by other engines flips between int64-ms/µs/ns and timestamp[µs/ns]
  * routinely. Tables.events must normalize all of them to the engine's
  * internal encoding (epoch-nanos Long) with identical values, so a
  * physical-type drift costs nothing instead of killing every
  * events-reading query at analysis (the round-7 incident: 66/132
  * registry entries lost to one hard-coded encoding).
  */
class IngestionSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  private type Encode =
    org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame

  // ts is epoch-nanos Long out of Tables.events; fixture precision is
  // ≤ µs, so DIV 1000 → timestamp_micros is lossless.
  private val toLtz: Encode = // timestamp[us], UTC
    _.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
  private val toNtz: Encode = // timestamp[us], naive
    _.withColumn("ts",
      timestamp_micros(expr("ts DIV 1000")).cast(TimestampNTZType))

  /** The same event rows re-encoded with a different physical `ts`,
    * written as the `<dir>/events.parquet` table Tables.events reads.
    * (int64-ms is indistinguishable from int64-nanos by schema alone —
    * both are plain longs — so that variant is out of scope by design:
    * the normalizer branches on TYPE, never on value magnitude.) */
  private def writeEvents(encode: Encode, dir: String): Unit =
    encode(Tables.events(spark, sf)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeVariant(encode: Encode): String = {
    val dir = tempDir("events-enc").toString
    writeEvents(encode, dir)
    dir
  }

  private lazy val asLongNanos = writeVariant(identity) // int64 nanos
  private lazy val asTimestampLtz = writeVariant(toLtz)
  private lazy val asTimestampNtz = writeVariant(toNtz)

  private def tsSum(dir: String): (Long, Long, String) = {
    val df = Tables.events(spark, dir)
    val r = df.agg(count(lit(1)), sum(col("ts") % lit(1000000007L))).head()
    (r.getLong(0), r.getLong(1), df.schema("ts").dataType.simpleString)
  }

  test("ts normalizes to identical nanos-Long across physical encodings") {
    val legs = Map("int64-nanos" -> asLongNanos,
      "timestamp[us] utc" -> asTimestampLtz,
      "timestamp[us] naive" -> asTimestampNtz)
    val want = tsSum(sf) // whatever the driver currently ships
    for ((label, dir) <- legs) {
      val got = tsSum(dir)
      assert(got._3 == "bigint",
        s"$label: Tables.events must yield ts: bigint, got ${got._3}")
      assert(got == want,
        s"$label: (rows, ts-checksum) drifted: got $got, want $want")
    }
  }

  test("a table rewritten in place with another ts encoding is never " +
      "read with a stale schema") {
    val want = tsSum(sf)
    val dir = tempDir("events-rewrite").toString
    for ((label, encode) <- Seq[(String, Encode)]("int64-nanos" -> identity,
        "timestamp[us] utc" -> toLtz, "timestamp[us] naive" -> toNtz)) {
      writeEvents(encode, dir)
      val got = tsSum(dir)
      assert(got._3 == "bigint", s"$label: got ts: ${got._3}")
      assert(got == want, s"$label: got $got, want $want")
    }
  }

  test("normalization is session-timezone-independent (the DuckDB-" +
      "parity property: naive timestamps are wall-clock, not local)") {
    val want = tsSum(sf)
    // same SparkContext, private SQLConf: the non-UTC zone is exactly
    // the configuration where a cast-through-TIMESTAMP conversion
    // would shift every epoch by the zone offset (measured 5h under
    // this zone before the wall-clock-arithmetic fix)
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    for ((label, dir) <- Map("int64-nanos" -> asLongNanos,
        "timestamp[us] utc" -> asTimestampLtz,
        "timestamp[us] naive" -> asTimestampNtz, "driver fixture" -> sf)) {
      val df = Tables.events(ny, dir)
      val r = df.agg(count(lit(1)), sum(col("ts") % lit(1000000007L))).head()
      assert((r.getLong(0), r.getLong(1), df.schema("ts").dataType.simpleString)
        == want, s"$label: ts drifted under a non-UTC session timezone")
    }
  }

  test("orders date columns: a DATE physical arrival widens to the " +
      "verified timestamp_ntz at identical values") {
    val dir = tempDir("orders-enc").toString
    val orig = Tables.orders(spark, sf)
    orig.withColumn("o_orderdate",
        col("o_orderdate").cast(org.apache.spark.sql.types.DateType))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Tables.orders(spark, dir)
    assert(got.schema("o_orderdate").dataType.simpleString == "timestamp_ntz")
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum(unix_date(col("o_orderdate").cast("date"))))
      .head()
    // the fixture's dates are midnight-exact, so DATE truncation is
    // lossless and the day-number checksum must match exactly
    assert(sig(got) == sig(orig))
  }

  test("a registered events query is encoding-invariant end-to-end") {
    val q = SparkEntry.queries("e01_string_matcher")
    def run(dir: String) =
      q(spark, dir).collect().map(_.toSeq).toSeq
    val want = run(sf)
    assert(want.nonEmpty)
    for (dir <- Seq(asLongNanos, asTimestampLtz, asTimestampNtz))
      assert(run(dir) == want)
  }
}
