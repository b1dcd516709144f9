package graft

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.{KEv, KOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful-operator tests in the style of the reference's task tests
  * (/root/reference/tests/tasks/test_gate.py, tests/comm/test_sync.py):
  * pure state-machine unit tests, streaming runs through MemoryStream
  * across micro-batches, and batch-vs-window-analogue equivalence on
  * the real sf0.001 events table.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def ev(topic: Int, ts: Long, v: Double = Double.NaN,
      text: String = null, paused: Boolean = false, seq: Long) =
    KEv("k", topic, ts, v, text, paused, seq)

  private def runB[S](m: Machine[S], es: Seq[KEv]): Seq[KOut] = {
    import spark.implicits._
    StatefulRunner.runBatch(m, spark.createDataset(es))
      .collect().toSeq.sortBy(o => (o.ts, o.value))
  }

  // ---------------------------------------------------------- unit: gate
  test("gate forwards only while open; control wins ties (gate.py:52-54)") {
    val out = runB(new Gate(failOpen = false), Seq(
      ev(0, 10, 1.0, seq = 0),           // closed → dropped
      ev(1, 20, 1.0, seq = 1),           // open
      ev(0, 30, 2.0, seq = 2),           // forwarded
      ev(1, 40, 0.0, seq = 3),           // close
      ev(0, 40, 3.0, seq = 4),           // same ts: control first → dropped
      ev(0, 50, 4.0, seq = 5)))          // dropped
    assert(out.filter(!_.paused).map(o => (o.ts, o.value)) == Seq((30L, 2.0)))
    // output pause markers at each open/close transition (gate.py:82-85)
    assert(out.filter(_.paused).map(o => (o.ts, o.value)) ==
      Seq((20L, 0.0), (40L, 1.0)))
  }

  test("fail modes: OPEN trusts the last control through a pause, " +
      "CLOSED shuts (gate.py:38-41)") {
    val evs = Seq(
      ev(1, 10, 1.0, seq = 0),            // control on → open
      ev(0, 20, 1.5, seq = 1),            // forwarded (both modes)
      ev(1, 30, paused = true, seq = 2),  // control topic pauses
      ev(0, 40, 2.5, seq = 3),            // OPEN: forwarded; CLOSED: dropped
      ev(1, 50, 0.4, paused = true, seq = 4), // control resumes (flag ≤ 0.5)
      ev(0, 60, 3.5, seq = 5))            // forwarded (both modes)
    val open = runB(new Gate(failOpen = true), evs)
    assert(open.filter(!_.paused).map(_.value) == Seq(1.5, 2.5, 3.5))
    assert(open.filter(_.paused).map(o => (o.ts, o.value)) ==
      Seq((10L, 0.0))) // opens once, never closes
    val closed = runB(new Gate(failOpen = false), evs)
    assert(closed.filter(!_.paused).map(_.value) == Seq(1.5, 3.5))
    assert(closed.filter(_.paused).map(o => (o.ts, o.value)) ==
      Seq((10L, 0.0), (30L, 1.0), (50L, 0.0))) // shuts for the pause
  }

  // ------------------------------------------------------ unit: SR latch
  test("sr latch is LEVEL-based: agreeing levels hold (srlatch.py:33-55)") {
    val out = runB(new SrLatch, Seq(
      ev(0, 10, 1.0, seq = 0),  // set level high → 1
      ev(1, 20, 0.2, seq = 1),  // reset level low, levels differ → 1
      ev(1, 30, 1.0, seq = 2),  // reset high but set STILL high → hold 1
      ev(0, 40, 0.3, seq = 3),  // set drops, levels differ → reset wins → 0
      ev(1, 50, 0.1, seq = 4),  // both low → hold 0
      ev(0, 60, 0.9, seq = 5))) // set high, differ → 1
    assert(out.map(_.value) == Seq(1.0, 1.0, 1.0, 0.0, 0.0, 1.0))
  }

  // -------------------------------------------------------- unit: switch
  test("switch: no forward before first control; value ties select by " +
      "control insertion order; control pause pops (switch.py:29-72)") {
    val out = runB(new Switch(2), Seq(
      ev(0, 5, 9.9, seq = 0),   // no control yet (index -1) → dropped
      ev(1, 10, 5.0, seq = 1),  // ctrl pair0 = 5 (inserted first)
      ev(3, 10, 5.0, seq = 2),  // ctrl pair1 = 5 (tie → pair0, first inserted)
      ev(0, 20, 1.0, seq = 3),  // pair0 data → forwarded
      ev(2, 20, 2.0, seq = 4),  // pair1 data → dropped
      ev(3, 30, 9.0, seq = 5),  // pair1 wins
      ev(0, 40, 3.0, seq = 6),  // dropped
      ev(2, 40, 4.0, seq = 7),  // forwarded
      ev(3, 45, paused = true, seq = 8), // ctrl pair1 pause → pops its value
      ev(2, 50, 6.0, seq = 9),  // pair1 no longer selected → dropped
      ev(0, 50, 5.0, seq = 10), // pair0 selected again → forwarded
      ev(3, 60, 5.0, seq = 11), // pair1 re-inserts at END: tie now → pair0 still
      ev(2, 70, 7.0, seq = 12), // dropped (tie keeps pair0)
      ev(0, 70, 8.0, seq = 13))) // forwarded
    assert(out.filter(!_.paused).map(_.value) == Seq(1.0, 4.0, 5.0, 8.0))
  }

  // -------------------------------------------- unit: string concatenator
  test("concatenator flushes on rising edge; data wins ties") {
    val out = runB(new StringConcatenator, Seq(
      ev(0, 10, text = "a", seq = 0),
      ev(0, 20, text = "b", seq = 1),
      ev(1, 20, 1.0, seq = 2),           // same ts: data first → flush "ab"
      ev(0, 30, text = "c", seq = 3),
      ev(1, 40, 0.9, seq = 4),           // still high → no edge
      ev(1, 50, 0.0, seq = 5),           // falling
      ev(1, 60, 1.0, seq = 6)))          // rising → flush "c"
    assert(out.map(_.text) == Seq("ab", "c"))
  }

  // ------------------------------------------------------- unit: detector
  test("detector emits 0 after gaps and at end (messagedetector.py:30-88)") {
    val out = runB(new MessageDetector(100), Seq(
      ev(0, 10, 1.0, seq = 0),
      ev(0, 50, 1.0, seq = 1),
      ev(0, 300, 1.0, seq = 2)))  // gap > 100 → down at 150
    assert(out.map(o => (o.ts, o.value)) ==
      Seq((10L, 1.0), (50L, 1.0), (150L, 0.0), (300L, 1.0), (400L, 0.0)))
  }

  // --------------------------------------------------- unit: synchronizer
  test("synchronizer: silent topics don't block, registered topics " +
      "sync, late drops (topic.py:117-140, dict semantics)") {
    val m = new Synchronizer(2)
    val out = runB(m, Seq(
      ev(0, 10, 1.0, seq = 0),
      ev(0, 30, 2.0, seq = 1),
      ev(1, 20, 3.0, seq = 2),
      ev(1, 5, 9.9, seq = 3),    // late on topic 1 → dropped
      ev(1, 40, 4.0, seq = 4)))
    // drive the machine directly to exercise true arrival order:
    val arrival = Seq(
      Ev(0, 10, 1.0, null, false), Ev(0, 30, 2.0, null, false),
      Ev(1, 20, 3.0, null, false), Ev(1, 5, 9.9, null, false),
      Ev(1, 40, 4.0, null, false))
    val (s, outs) = arrival.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }
    val all = outs ++ m.onTimeout(s)
    // topic 1 hasn't registered while 10 and 30 arrive → they flow
    // unblocked (reference: absent topics don't constrain the min);
    // 20 then releases behind them, 5 drops, 40 flushes at end
    assert(all.map(_.ts) == Seq(10L, 30L, 20L, 40L))
    assert(out.nonEmpty) // spark path ran too
  }

  // ----------------------------------------- streaming across micro-batches
  test("gate keeps state across micro-batches (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KEv]
    val q = StatefulRunner.runStreaming(new Gate(failOpen = false), mem.toDS())
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, 10, 1.0, seq = 0), ev(0, 20, 1.5, seq = 1))
      q.processAllAvailable()
      // batch 2: gate stays open from batch 1's control message
      mem.addData(ev(0, 30, 2.5, seq = 2), ev(1, 40, 0.0, seq = 3),
        ev(0, 50, 3.5, seq = 4))
      q.processAllAvailable()
      val got = spark.table("gate_out").as[KOut].collect().toSeq
        .filter(!_.paused).sortBy(_.ts)
      assert(got.map(_.value) == Seq(1.5, 2.5))
    } finally q.stop()
  }

  test("switch keeps selection across micro-batches (MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KEv]
    val q = StatefulRunner.runStreaming(new Switch(2), mem.toDS())
      .writeStream.format("memory").queryName("switch_out")
      .outputMode("append").start()
    try {
      mem.addData(ev(3, 10, 9.0, seq = 0))         // select pair 1
      q.processAllAvailable()
      mem.addData(ev(0, 20, 1.0, seq = 1),         // pair 0 data → dropped
        ev(2, 30, 2.0, seq = 2))                   // pair 1 data → forwarded
      q.processAllAvailable()
      val got = spark.table("switch_out").as[KOut].collect().map(_.value).toSeq
      assert(got == Seq(2.0))
    } finally q.stop()
  }

  test("detector emits trailing 0 via processing-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KEv]
    val q = StatefulRunner.runStreaming(new MessageDetector(100), mem.toDS(),
        timeoutMs = 50)
      .writeStream.format("memory").queryName("det_out")
      .outputMode("append").start()
    try {
      mem.addData(ev(0, 10, 1.0, seq = 0))
      // processing-time timeouts keep scheduling micro-batches, so
      // processAllAvailable never settles — poll with a deadline instead
      def rowsFor(key: String) = spark.table("det_out").as[KOut]
        .collect().filter(_.key == key).map(o => (o.ts, o.value)).sorted.toSeq
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var got = rowsFor("k")
      while (got.size < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        got = rowsFor("k")
      }
      // up at 10, trailing down at 10+100 once the timeout fired
      assert(got == Seq((10L, 1.0), (110L, 0.0)))
    } finally q.stop()
  }

  test("synchronizer buffers across micro-batches and drops late arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KEv]
    val q = StatefulRunner.runStreaming(new Synchronizer(2), mem.toDS())
      .writeStream.format("memory").queryName("sync_out")
      .outputMode("append").start()
    try {
      // batch 1: topic 1 has never registered, so it does not
      // constrain the min — topic 0's rows flow immediately
      mem.addData(ev(0, 10, 1.0, seq = 0), ev(0, 30, 2.0, seq = 1))
      q.processAllAvailable()
      assert(spark.table("sync_out").count() == 2)
      // batch 2: topic 1 registers at 20 (min(30, 20) = 20 → releases);
      // a late topic-0 message (ts 5 < its dict entry 30, which
      // SURVIVED the batch boundary in state) is dropped
      mem.addData(ev(1, 20, 3.0, seq = 2), ev(0, 5, 9.9, seq = 3))
      q.processAllAvailable()
      val got = spark.table("sync_out").as[KOut].collect()
        .map(o => (o.ts, o.value)).sorted.toSeq
      assert(got == Seq((10L, 1.0), (20L, 3.0), (30L, 2.0)))
      assert(!got.exists(_._2 == 9.9)) // late drop held across batches
    } finally q.stop()
  }

  test("calculator re-evaluates on every input with last values") {
    val m = new Calculator(Map(0 -> 0.0, 1 -> 0.0),
      vars => vars(0) + vars(1))
    val out = runB(m, Seq(
      ev(0, 10, 2.0, seq = 0),
      ev(1, 20, 5.0, seq = 1),
      ev(0, 30, 1.0, seq = 2),
      ev(1, 30, paused = true, seq = 3))) // pause resets var 1 → no emit
    assert(out.map(o => (o.ts, o.value)) ==
      Seq((10L, 2.0), (20L, 7.0), (30L, 6.0)))
  }

  // ------------------------- equivalence: machine vs batch window analogue
  test("gate machine == e22 fail-mode formulation on sf0.001 events " +
      "WITH pause markers and invalid controls") {
    import spark.implicits._
    val e = Tables.eventsMs(spark, sf)
    val key = pmod(col("user_id"), lit(2)).cast("string").as("key")
    // e22's scenario mapped onto the machine's envelope: clicks = data;
    // errors = control values (value < 2 becomes NaN, an invalid
    // NumberMessage); purchases = control-topic pause markers whose
    // flag rides in `value` (pause iff > 10 → flag > 0.5)
    val data = e.filter(col("event_type") === "click")
      .select(key, lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
        lit(null).cast("string").as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val ctrl = e.filter(col("event_type") === "error")
      .select(key, lit(1).as("topic"), col("ts_ms").as("ts"),
        when(col("value") < 2, Double.NaN)
          .otherwise(when(col("value") > 10, 1.0).otherwise(0.0)).as("value"),
        lit(null).cast("string").as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val marks = e.filter(col("event_type") === "purchase")
      .select(key, lit(1).as("topic"), col("ts_ms").as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast("string").as("text"), lit(true).as("paused"),
        col("event_id").as("seq"))
    val in = data.unionByName(ctrl).unionByName(marks).as[KEv]
    val e22 = graft.operators.EventOps.all.find(_.name == "e22_gate_failmodes")
      .get.fn(spark, sf).collect()
    Seq(("open", true), ("closed", false)).foreach { case (mode, failOpen) =>
      val out = StatefulRunner.runBatch(new Gate(failOpen), in).collect()
      val mData = out.filter(!_.paused).map(o => (o.key.toLong, o.ts, o.value))
        .sortBy(identity).toSeq
      val mMarks = out.filter(_.paused).map(o => (o.key.toLong, o.ts, o.value))
        .sortBy(identity).toSeq
      val qData = e22.filter(r => r.getString(0) == mode && r.getString(4) == "data")
        .map(r => (r.getLong(1), r.getLong(3), r.getDouble(5)))
        .sortBy(identity).toSeq
      val qMarks = e22.filter(r => r.getString(0) == mode && r.getString(4) == "pause")
        .map(r => (r.getLong(1), r.getLong(3), r.getDouble(5)))
        .sortBy(identity).toSeq
      assert(mData == qData, s"forwarded rows, mode=$mode")
      assert(mMarks == qMarks, s"transition markers, mode=$mode")
      assert(mData.nonEmpty && mMarks.nonEmpty)
    }
  }

  test("gate machine == window-function analogue on sf0.001 events") {
    import spark.implicits._
    val e = Tables.eventsMs(spark, sf)
    val data = e.filter(col("event_type") === "click")
      .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(0).as("topic"), col("ts_ms").as("ts"),
        col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val ctrl = e.filter(col("event_type") === "error")
      .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(1).as("topic"), col("ts_ms").as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val in = data.unionByName(ctrl).as[KEv]
    val machine = StatefulRunner.runBatch(new Gate(failOpen = false), in)
      .filter(!col("paused")) // data rows; the analogue has no marker lane
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(identity).toSeq
    val analogue = graft.operators.EventOps.all.find(_.name == "e05_gate").get
      .fn(spark, sf)
      .select(col("ts_ms"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(identity).toSeq
    assert(machine == analogue)
    assert(machine.nonEmpty)
  }

  test("media switch defers cutover to next keyframe; active starts -1 " +
      "(mediaswitch.py:11-27)") {
    val m = new MediaSwitch(2)
    val evs = Seq(
      Ev(0, 5, 0.5, "k", false),    // keyframe but NO control yet (sel -1) → dropped
      Ev(1, 8, 1.0, null, false),   // select pair 0
      Ev(0, 10, 1.0, "k", false),   // pair0 keyframe → active -1→0, forwarded
      Ev(3, 20, 9.0, null, false),  // select pair 1 (no keyframe yet)
      Ev(0, 30, 2.0, null, false),  // pair0 no longer SELECTED → dropped
      Ev(2, 40, 3.0, null, false),  // pair1 non-keyframe, active still 0 → dropped
      Ev(2, 50, 4.0, "k", false),   // pair1 keyframe → cutover + forwarded
      Ev(0, 60, 5.0, "k", false))   // pair0 keyframe but not selected → dropped
    val outs = evs.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }._2
    assert(outs.map(_.value) == Seq(1.0, 4.0))
  }

  test("media switch cutover reads CODED keyframe tags too: the " +
      "'k|<hex>' / 'p|<hex>' framing the delta/motion encoders emit") {
    val m = new MediaSwitch(2)
    val evs = Seq(
      Ev(1, 5, 1.0, null, false),        // select pair 0
      Ev(0, 10, 1.0, "p|aabb", false),   // P-frame first → NOT a cutover
      Ev(0, 20, 2.0, "k|ccdd", false),   // coded keyframe → cutover + fwd
      Ev(0, 30, 3.0, "p|eeff", false))   // subsequent P-frame forwards
    val outs = evs.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }._2
    assert(outs.map(o => (o.value, o.text)) ==
      Seq((2.0, "k|ccdd"), (3.0, "p|eeff")))
  }

  test("text formatter emits template over last values, pause resets") {
    val m = new TextFormatter(2,
      vars => s"a=${vars(0)} b=${vars(1)}")
    val evs = Seq(
      Ev(0, 10, Double.NaN, "x", false),
      Ev(1, 20, Double.NaN, "y", false),
      Ev(1, 25, Double.NaN, null, true),  // pause resets b
      Ev(0, 30, Double.NaN, "z", false))
    val outs = evs.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }._2
    assert(outs.map(_.text) == Seq("a=x b=", "a=x b=y", "a=z b="))
  }

  test("switch machine == window-function analogue on sf0.001 events") {
    import spark.implicits._
    val e = Tables.eventsMs(spark, sf)
    def side(t: String, topic: Int, isCtrl: Boolean) =
      e.filter(col("event_type") === t)
        .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(topic).as("topic"), col("ts_ms").as("ts"),
          col("value"), lit(null).cast("string").as("text"),
          lit(false).as("paused"), col("event_id").as("seq"))
    val in = side("click", 0, isCtrl = false)
      .unionByName(side("error", 1, isCtrl = true))
      .unionByName(side("view", 2, isCtrl = false))
      .unionByName(side("signup", 3, isCtrl = true)).as[KEv]
    val machine = StatefulRunner.runBatch(new Switch(2), in)
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val analogue = graft.operators.EventOps.all.find(_.name == "e06_switch").get
      .fn(spark, sf)
      .select(col("ts_ms"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(machine == analogue)
    assert(machine.nonEmpty)
  }

  test("concatenator machine == window-function analogue on sf0.001 events") {
    import spark.implicits._
    val e = Tables.eventsMs(spark, sf)
    val data = e.filter(col("event_type") === "click")
      .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(0).as("topic"), col("ts_ms").as("ts"),
        lit(Double.NaN).as("value"),
        concat(lit("e"), col("event_id"), lit(";")).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val ctrl = e.filter(col("event_type") === "error")
      .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(1).as("topic"), col("ts_ms").as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val in = data.unionByName(ctrl).as[KEv]
    val machine = StatefulRunner.runBatch(new StringConcatenator, in)
      .select(col("ts"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val analogue = graft.operators.EventOps.all
      .find(_.name == "e10_string_concatenator").get
      .fn(spark, sf)
      .select(col("ts_ms"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(machine == analogue)
    assert(machine.nonEmpty)
  }

  test("sr latch machine == window-function analogue on sf0.001 events") {
    import spark.implicits._
    val e = Tables.eventsMs(spark, sf)
    def side(t: String, topic: Int) = e.filter(col("event_type") === t)
      .select(pmod(col("user_id"), lit(2)).cast("string").as("key"), lit(topic).as("topic"), col("ts_ms").as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val in = side("click", 0).unionByName(side("error", 1)).as[KEv]
    val machine = StatefulRunner.runBatch(new SrLatch, in)
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val analogue = graft.operators.EventOps.all.find(_.name == "e08_sr_latch").get
      .fn(spark, sf)
      .select(col("ts_ms"), col("state")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(machine == analogue)
    assert(machine.nonEmpty)
  }
}
