package graft

import graft.streaming.StateMachines._
import org.scalatest.funsuite.AnyFunSuite

/** TimeSynchronizer (utils.py:299-304) and the wall-clock repeater mode
  * (repeater.py:36-69) under a deterministic injected clock — the
  * machines are pure; one streaming test exercises the re-arming
  * processing-time timeout (removeOnTimeout = false). */
class TimeSyncSpec extends AnyFunSuite with SparkFixture {

  test("wall-clock repeater keeps ticking in streaming: the timeout " +
      "re-arms instead of dropping state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulRunner
    import graft.streaming.StatefulRunner.{KEv, KOut}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[KEv]
    val m = new WallClockRepeater(() => System.currentTimeMillis())
    val q = StatefulRunner.runStreaming(m, mem.toDS(), timeoutMs = 200)
      .writeStream.format("memory").queryName("wallrep_out")
      .outputMode("append").start()
    try {
      mem.addData(KEv("k", 0, 1000L, 42.0, null, false, 0))
      // with removeOnTimeout=false the query is never quiescent
      // (every timeout re-arms), so processAllAvailable would wait
      // forever — poll the sink until at least 2 unprompted ticks
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def ticks() = spark.table("wallrep_out").as[KOut].collect().toSeq
      while (ticks().size < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      val got = ticks()
      assert(got.size >= 2, "repeater stopped after one timeout")
      assert(got.forall(_.value == 42.0))
    } finally q.stop()
  }

  private final class FakeClock(var now: Long) extends (() => Long)
      with Serializable {
    def apply(): Long = now
  }

  test("TimeSync learns the stream offset and projects it onto now " +
      "(utils.py:299-304)") {
    val clock = new FakeClock(5000L)
    val sync = new TimeSync(clock)
    assert(sync.time == 5000L) // no offset learned yet
    sync.update(1000L)         // stream clock runs 4000 behind
    assert(sync.time == 1000L)
    clock.now = 5700L
    assert(sync.time == 1700L) // projection advances with the clock
    sync.update(9000L)         // stream jumped ahead
    assert(sync.time == 9000L)
    sync.reset()
    assert(sync.time == 5700L)
  }

  test("wall-clock repeater restamps ticks with the learned offset " +
      "(repeater.py:44,64)") {
    val clock = new FakeClock(5000L)
    val m = new WallClockRepeater(clock)
    var s = m.init
    assert(m.onTimeout(s).isEmpty) // nothing held yet → no tick output

    // data at stream-ts 1000 while the machine clock reads 5000
    s = m.step(s, Ev(0, 1000L, 42.0, null, paused = false))._1
    clock.now = 5500L // half a second later
    assert(m.onTimeout(s) == Seq(Out(1500L, 42.0, null)))
    clock.now = 6000L
    assert(m.onTimeout(s) == Seq(Out(2000L, 42.0, null)))

    // a new message re-learns the offset (stream now ahead of clock)
    s = m.step(s, Ev(0, 9000L, 7.0, null, paused = false))._1
    clock.now = 6100L
    assert(m.onTimeout(s) == Seq(Out(9100L, 7.0, null)))

    // pause forwards to the output flag (repeater.py:40): ticks go
    // quiet while paused, but the hold and offset SURVIVE — a resume
    // marker brings the same restamped value back
    s = m.step(s, Ev(0, 0L, Double.NaN, null, paused = true))._1
    assert(m.onTimeout(s).isEmpty)
    s = m.step(s, Ev(0, 0L, 0.0, null, paused = true))._1 // resume
    clock.now = 6200L
    assert(m.onTimeout(s) == Seq(Out(9200L, 7.0, null)))
    assert(!m.removeOnTimeout) // streaming keeps the state ticking
  }
}
