package graft

import graft.sources.InputPacer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Input-pacer tests: restamp math against hand-computed values
  * (inputcontainer.py:74-77) and real-time paced emission — packets
  * are released only once the wall clock reaches their restamped
  * offset, and a late batch catches up instead of drifting. */
class PacerSpec extends AnyFunSuite with SparkFixture {

  private def packetsDf(rows: Seq[(Long, String, Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("container", "stream", "dts", "tb_num", "tb_den")
  }

  test("restamp anchors t0 at the container's first offset " +
      "(inputcontainer.py:74-77)") {
    // audio dts in 1/32000 samples (1024/frame → 32 ms), video dts in
    // 1/30 frames (33.33 ms); audio starts at dts 2048 so the min
    // offset is video's 0.
    val df = InputPacer.restamp(packetsDf(Seq(
      (0L, "audio", 2048L, 1L, 32000L),
      (0L, "audio", 3072L, 1L, 32000L),
      (0L, "video", 0L, 1L, 30L),
      (0L, "video", 1L, 1L, 30L),
      (1L, "video", 3L, 1L, 30L))), anchorMs = 10000L)
      .select(col("container"), col("stream"), col("dts"),
        col("offset_ms"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(df == Set(
      (0L, "audio", 2048L, 64L, 10064L),
      (0L, "audio", 3072L, 96L, 10096L),
      (0L, "video", 0L, 0L, 10000L),
      (0L, "video", 1L, 33L, 10033L),   // floor(1000/30)
      (1L, "video", 3L, 100L, 10000L))) // its own first packet = anchor
  }

  test("dueTick is the first tick at or after the due time for any " +
      "tickMs, including non-divisors of 1000 and >1s granularities") {
    import spark.implicits._
    val rels = (Seq(0L, 1L, 199L, 200L, 299L, 300L, 999L, 1000L, 1499L,
      1500L, 2999L, 3000L, 100000L) ++ (0 until 50).map(_ * 128L)).distinct
    for (tickMs <- Seq(1L, 200L, 300L, 700L, 1000L, 1500L, 3000L)) {
      val r = InputPacer.ticksPerSecond(tickMs)
      assert(r >= 1 && r <= 1000 && 1000.0 / r <= math.max(tickMs, 1000L),
        s"resolution 1000/$r must not exceed requested $tickMs (capped 1s)")
      val got = rels.toDF("rel_ms")
        .select(col("rel_ms"), InputPacer.dueTick(col("rel_ms"), r).as("v"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      rels.foreach { rel =>
        val v = got(rel)
        // never early: tick v fires at v*1000/R ms ≥ rel
        assert(v * 1000 >= rel * r, s"tickMs=$tickMs rel=$rel v=$v early")
        // first eligible: the previous tick would have been early
        if (v > 0)
          assert((v - 1) * 1000 < rel * r,
            s"tickMs=$tickMs rel=$rel v=$v not the first eligible tick")
      }
    }
  }

  test("paced source releases packets only when the wall clock reaches " +
      "their offset (inputcontainer.py:78-80)") {
    // 6 audio frames, 128 ms apart (dts step 4096 at 1/32000).
    val packets = packetsDf((0 until 6).map(k =>
      (0L, "audio", k.toLong * 4096, 1L, 32000L)))
    val tickMs = 200L
    val anchor = System.currentTimeMillis()
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = InputPacer.paced(spark, packets, anchor, tickMs)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val wall = System.currentTimeMillis()
        batch.select(col("offset_ms")).collect()
          .foreach(r => emitted.add((r.getLong(0), wall)))
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (emitted.size < 6 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      import scala.jdk.CollectionConverters._
      val got = emitted.asScala.toSeq.sortBy(_._1)
      assert(got.map(_._1) == (0 until 6).map(_ * 128L),
        "all packets emitted exactly once")
      // pacing: each packet's emission wall time is at or after its due
      // tick (offset rounded up to the tick grid); collection overhead
      // only ever delays, never releases early beyond one tick of slack
      got.foreach { case (off, wall) =>
        val due = anchor + (off + tickMs - 1) / tickMs * tickMs
        assert(wall >= due - tickMs,
          s"packet at offset $off released at $wall, before due $due")
      }
      // monotone release order
      assert(got.map(_._2) == got.map(_._2).sorted)
    } finally q.stop()
  }
}
