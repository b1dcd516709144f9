package graft

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.{KEv, KOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Output-container synchronizer tests — hand-traced scenarios for the
  * wait_for algorithm of
  * /root/reference/streamtasks/system/tasks/media/outputcontainer.py:70-101
  * (startup barrier, duration-ordered interleave, bounded-desync drop,
  * pause drag) plus streaming/batch equivalence across micro-batches.
  *
  * Streams: topic 0 = audio (time_base 1/32000 s, frame 1024 → 32 ms
  * quantum), topic 1 = video (time_base 1/30 s, frame 1 → 33.33 ms
  * quantum); max_desync = 100 ms.
  */
class ContainerSpec extends AnyFunSuite with SparkFixture {

  private def machine = new OutputContainerSync(Map(
    0 -> OcStreamCfg(1, 32000, 1024, "a"),
    1 -> OcStreamCfg(1, 30, 1, "v")), maxDesync = 100)

  /** Fold events through the machine in the given arrival order,
    * returning (emitted trace, per-step emission counts). */
  private def trace(m: OutputContainerSync,
      evs: Seq[Ev]): (Seq[Out], Seq[Int]) = {
    var s = m.init
    val outs = Vector.newBuilder[Out]
    val counts = Vector.newBuilder[Int]
    evs.foreach { e =>
      val (s2, o) = m.step(s, e)
      s = s2; outs ++= o; counts += o.size
    }
    (outs.result(), counts.result())
  }

  private def a(ts: Long) = Ev(0, ts, 1.0, null, paused = false)
  private def v(ts: Long) = Ev(1, ts, 2.0, null, paused = false)

  test("startup barrier: nothing emits until every stream registers " +
      "(outputcontainer.py:73-75)") {
    val (out, _) = trace(machine, Seq(a(1000), a(1010), a(1020)))
    assert(out.isEmpty)
  }

  test("barrier release emits in duration order; dts from quantized " +
      "registration (container.py:130-133)") {
    val (out, counts) = trace(machine,
      Seq(a(1000), v(1010), v(1040), a(1050)))
    assert(counts == Seq(0, 2, 0, 2)) // v(1040) blocks until a advances
    assert(out.map(o => (o.ts, o.value.toLong, o.text)) == Seq(
      (1000L, 0L, "a"), (1010L, 0L, "v"),   // t0=1000; both dur 0
      (1040L, 1L, "v"),                      // video catches up first
      (1050L, 1600L, "a")))                  // dts = (1050-1000)*32
  }

  test("bounded desync: a stream at min timestamp but ahead in duration " +
      "is dropped when the frontier runs >max_desync ahead " +
      "(outputcontainer.py:85-91)") {
    // Video packets every 10 ms: each mux advances duration by a full
    // 33.33 ms frame, so video duration outruns its timestamps; once
    // audio's timestamp frontier is >100 ms ahead, video's packet at
    // the min timestamp is dropped rather than blocking the mux.
    val evs = Seq(
      a(1000), v(1000),           // barrier; both emit at dur 0
      v(1010), a(1005),           // v blocks on dur, unblocked by a
      v(1020), a(1010),
      v(1030), a(1015),
      v(1040), a(1200),           // audio jumps 185 ms ahead
      v(1050), v(1060),
      v(1070),                    // durV > durA, tsV = minTs, gap > 100 → DROP
      v(1150))                    // same shape but gap ≤ 100 → blocks, and
                                  // its registration unblocks audio's head
    val (out, _) = trace(machine, evs)
    assert(out.map(o => (o.ts, o.value.toLong, o.text)) == Seq(
      (1000L, 0L, "a"), (1000L, 0L, "v"),
      (1005L, 1024L, "a"), (1010L, 1L, "v"),
      (1010L, 2048L, "a"), (1020L, 2L, "v"),
      (1015L, 3072L, "a"), (1030L, 3L, "v"),
      (1040L, 4L, "v"), (1050L, 5L, "v"), (1060L, 6L, "v"),
      (1200L, 6400L, "a")))
    // v(1070) was dropped; v(1150) is still blocked (no emission)
    assert(!out.exists(o => o.text == "v" && o.ts == 1070L))
    assert(!out.exists(o => o.text == "v" && o.ts == 1150L))
  }

  test("paused stream neither gates the mux nor pins min_duration " +
      "(outputcontainer.py:94-96,103-105)") {
    val evs = Seq(
      a(1000), v(1000),
      Ev(0, 1001, Double.NaN, null, paused = true), // pause audio
      v(1010), v(1020),            // flow freely despite silent audio
      a(1030))                     // unpause-by-data re-registers
    val (out, _) = trace(machine, evs)
    assert(out.map(o => (o.ts, o.value.toLong, o.text)) == Seq(
      (1000L, 0L, "a"), (1000L, 0L, "v"),
      (1010L, 1L, "v"), (1020L, 2L, "v"),
      (1030L, 1024L, "a")))
  }

  test("late packet (ts below registered) is skipped without muxing " +
      "(outputcontainer.py:71)") {
    val evs = Seq(a(1000), v(1000), a(1050), a(1010), a(1060), v(1100))
    val (out, _) = trace(machine, evs)
    assert(!out.exists(o => o.text == "a" && o.ts == 1010L))
    assert(out.exists(o => o.text == "a" && o.ts == 1060L))
  }

  test("invariants hold on random packet streams (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // per-topic monotone ts on a coarse grid (quantum-scale gaps so
    // blocking, mux-outrun and drops all occur), random interleave
    val genStream: Gen[Seq[Ev]] = for {
      na <- Gen.choose(0, 25)
      nv <- Gen.choose(0, 25)
      aGaps <- Gen.listOfN(na, Gen.choose(5L, 60L))
      vGaps <- Gen.listOfN(nv, Gen.choose(5L, 60L))
      seed <- Gen.choose(0L, 1000000L)
    } yield {
      val as = aGaps.scanLeft(1000L)(_ + _).tail.map(a(_))
      val vs = vGaps.scanLeft(1000L)(_ + _).tail.map(v(_))
      new scala.util.Random(seed).shuffle(as ++ vs): Seq[Ev]
    }
    val prop = Prop.forAll(genStream) { evs =>
      // per-topic arrival must be ts-monotone for a fair run: the
      // shuffle interleaves topics but keeps each topic's own order
      val ordered = {
        val byT = evs.groupBy(_.topic).map { case (t, es) =>
          t -> es.sortBy(_.ts)
        }
        var idx = Map(0 -> 0, 1 -> 0)
        evs.map { e =>
          val i = idx(e.topic); idx += e.topic -> (i + 1); byT(e.topic)(i)
        }
      }
      val (out, _) = trace(machine, ordered)
      val byLabel = out.groupBy(_.text)
      val dtsMonotone = byLabel.values.forall { os =>
        val ds = os.map(_.value.toLong)
        ds == ds.sorted && ds.distinct == ds // strictly increasing
      }
      val inputTs = ordered.groupBy(e => if (e.topic == 0) "a" else "v")
        .map { case (k, es) => k -> es.map(_.ts).toSet }
      val fromInputs = out.forall(o => inputTs(o.text).contains(o.ts))
      val barrier = // nothing emitted unless both topics sent packets
        out.isEmpty || (inputTs.contains("a") && inputTs.contains("v")
          && inputTs("a").nonEmpty && inputTs("v").nonEmpty)
      val bounded = out.size <= ordered.size
      dtsMonotone && fromInputs && barrier && bounded
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(100).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("container sync keeps t0/counters across micro-batches " +
      "(MemoryStream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def kev(e: Ev, seq: Long) = KEv("k", e.topic, e.ts, e.value, e.text,
      e.paused, seq)
    val batch1 = Seq(kev(a(1000), 0), kev(v(1010), 1))
    val batch2 = Seq(kev(v(1040), 2), kev(a(1050), 3))
    val mem = MemoryStream[KEv]
    val q = StatefulRunner.runStreaming(machine, mem.toDS())
      .writeStream.format("memory").queryName("oc_out")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("oc_out").as[KOut].collect().toSeq
        .sortBy(o => (o.ts, o.text))
      val want = StatefulRunner
        .runBatch(machine, spark.createDataset(batch1 ++ batch2))
        .collect().toSeq.sortBy(o => (o.ts, o.text))
      assert(got == want)
      assert(got.map(o => (o.ts, o.value.toLong, o.text)) == Seq(
        (1000L, 0L, "a"), (1010L, 0L, "v"),
        (1040L, 1L, "v"), (1050L, 1600L, "a")))
    } finally q.stop()
  }
}
