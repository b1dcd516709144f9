package graft

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.KEv
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.VectorMap

/** Exhaustive event-permutation harness — the analogue of the
  * reference's `full_test` simulator (/root/reference/tests/sim.py:6-75:
  * `PrefixMap` + `SequenceGenerator` enumerate every permutation of a
  * task's event alphabet; tests/tasks/test_gate.py:139-159 drives the
  * gate task through the generated stream and checks every step against
  * the `GateSim` expectation model).
  *
  * This suite is strictly stronger than the reference's: instead of
  * permutations of the alphabet (each symbol once), it walks EVERY WORD
  * of length k over the alphabet (symbols repeat), depth-first with the
  * machine state and the model state carried along each shared prefix —
  * the PrefixMap prefix-sharing idea — so |A|^k words cost O(|A|^k)
  * steps, not O(k·|A|^k). At every node the machine's emissions must
  * equal an EXPECTATION MODEL transcribed from the reference task's own
  * control flow (gate.py / switch.py / mediaswitch.py / srlatch.py /
  * stringconcatenator.py), not from our machine — so a faithful-
  * transcription error in either formulation surfaces as a divergence
  * on some word. The alphabets include the hostile symbols the
  * reference's sims cover (invalid messages, pause/resume markers) plus
  * value ties that exercise python-dict insertion-order selection.
  *
  * A final test pushes the full gate word set through
  * [[StatefulRunner.runBatch]] in ONE Spark job (words keyed by id) and
  * compares every group against the pure fold — the exhaustive check of
  * the Spark mount itself, something the reference cannot do.
  */
class ExhaustiveSimSpec extends AnyFunSuite with SparkFixture {

  /** An expectation model with the same fold signature as Machine but
    * an independent derivation (transcribed from the reference task). */
  private trait SimModel[M] {
    def init: M
    def step(m: M, e: Ev): (M, Seq[Out])
  }

  /** NaN-tolerant Out comparison (case-class == has NaN != NaN). */
  private def norm(os: Seq[Out]): Seq[(Long, String, String, Boolean)] =
    os.map(o => (o.ts, if (o.value.isNaN) "NaN" else o.value.toString,
      o.text, o.paused))

  /** A named alphabet symbol: position → event (ts = 10*(pos+1)). */
  private type Sym = (String, Int => Ev)
  private def data(topic: Int, v: Double, text: String = null): Int => Ev =
    i => Ev(topic, 10L * (i + 1), v, text, paused = false)
  private def invalid(topic: Int): Int => Ev =
    i => Ev(topic, 10L * (i + 1), Double.NaN, null, paused = false)
  private def pause(topic: Int): Int => Ev =
    i => Ev(topic, 10L * (i + 1), Double.NaN, null, paused = true)
  private def resume(topic: Int): Int => Ev =
    i => Ev(topic, 10L * (i + 1), 0.0, null, paused = true)

  /** Depth-first walk of all |alphabet|^k words, machine and model in
    * lockstep; returns the number of (word-prefix, symbol) nodes
    * checked. Prefix sharing: a node's step is computed once for all
    * |A|^(k-depth-1) words extending it. */
  private def exhaust[S, M](machine: Machine[S], model: SimModel[M],
      alphabet: IndexedSeq[Sym], k: Int): Long = {
    var nodes = 0L
    def rec(depth: Int, ms: S, mm: M, trail: List[String]): Unit = {
      if (depth == k) return
      var a = 0
      while (a < alphabet.length) {
        val (name, mk) = alphabet(a)
        val e = mk(depth)
        val (ms2, got) = machine.step(ms, e)
        val (mm2, want) = model.step(mm, e)
        nodes += 1
        if (norm(got) != norm(want))
          fail(s"divergence on word ${(name :: trail).reverse.mkString(" ")}: " +
            s"machine=$got model=$want")
        rec(depth + 1, ms2, mm2, name :: trail)
        a += 1
      }
    }
    rec(0, machine.init, model.init, Nil)
    nodes
  }

  // ------------------------------------------------------------- gate sim
  /** Transcription of gate.py:31-93 (GateState.get_open/
    * get_output_paused + run_control_recv/run_in_recv/run_out_pauser)
    * with the reference's field names; the same model the reference's
    * GateSim (test_gate.py:24-58) checks against. */
  private final case class GateSimState(control: Boolean,
      controlPaused: Boolean, controlErrored: Boolean, inputPaused: Boolean,
      outIsPaused: Boolean)
  private final class GateSim(failMode: String, initialControl: Boolean)
      extends SimModel[GateSimState] {
    private def getOpen(s: GateSimState): Boolean = {
      if (s.inputPaused || !s.control) false // gate.py:39
      else if (failMode == "closed" && (s.controlPaused || s.controlErrored))
        false // gate.py:40
      else true // gate.py:41
    }
    def init = {
      val s = GateSimState(initialControl, controlPaused = false,
        controlErrored = false, inputPaused = false, outIsPaused = false)
      s.copy(outIsPaused = !getOpen(s))
    }
    def step(s: GateSimState, e: Ev): (GateSimState, Seq[Out]) = {
      val s1 =
        if (e.topic == 1) { // run_control_recv, gate.py:70-80
          if (e.paused) s.copy(controlPaused = pauseFlag(e))
          else if (e.value.isNaN) s.copy(controlErrored = true)
          else s.copy(control = e.value > 0.5, controlErrored = false)
        } else { // run_in_recv, gate.py:86-93
          if (e.paused) s.copy(inputPaused = pauseFlag(e)) else s
        }
      val fwd =
        if (e.topic == 0 && !e.paused && getOpen(s1))
          Seq(Out(e.ts, e.value, e.text))
        else Nil
      // run_out_pauser (gate.py:81-85) + OutTopic.set_paused
      // transition dedup (client/topic.py:232-235)
      val nowPaused = !getOpen(s1)
      val marker =
        if (nowPaused == s1.outIsPaused) Nil
        else Seq(Out(e.ts, if (nowPaused) 1.0 else 0.0, null, paused = true))
      (s1.copy(outIsPaused = nowPaused), fwd ++ marker)
    }
  }

  private val gateAlphabet: IndexedSeq[Sym] = Vector(
    "D" -> data(0, 1337.0), // SEND_DATA
    "C0" -> data(1, 0.0), // SET_GATE_CLOSED
    "C1" -> data(1, 1.0), // SET_GATE_OPEN
    "CN" -> invalid(1), // SET_GATE_INVALID
    "PC" -> pause(1), "RC" -> resume(1), // SET_GATE_(UN)PAUSED
    "PD" -> pause(0), "RD" -> resume(0)) // input pause (run_in_recv)

  test("gate: all 8^6 words x {fail open, fail closed} x {initial " +
      "control} agree with the gate.py transcription") {
    for (failOpen <- Seq(true, false); init0 <- Seq(false, true)) {
      val n = exhaust(new Gate(failOpen, init0),
        new GateSim(if (failOpen) "open" else "closed", init0),
        gateAlphabet, k = 6)
      assert(n == (1L to 6L).map(d => math.pow(8, d.toDouble).toLong).sum)
    }
  }

  // ----------------------------------------------------------- switch sim
  /** Transcription of switch.py:22-72 with a `VectorMap` playing
    * `self.control_values` — VectorMap IS a python dict here: insertion
    * ordered, update-in-place keeps the slot, removal forgets it.
    * `isPaused` mirrors each data InTopic's pause flag
    * (client/topic.py:81-103), `outIsPaused` the OutTopic's. */
  private final case class SwitchSimState(
      controlValues: VectorMap[Int, Double],
      isPaused: Map[Int, Boolean], outIsPaused: Boolean)
  private class SwitchSim extends SimModel[SwitchSimState] {
    def init = SwitchSimState(VectorMap.empty, Map.empty.withDefaultValue(false),
      outIsPaused = false)
    // switch.py:69-72
    protected def getSelectedIndex(cv: VectorMap[Int, Double]): Int =
      if (cv.isEmpty) -1
      else {
        val selectedValue = cv.valuesIterator.max
        cv.iterator.collectFirst { case (idx, v) if v == selectedValue => idx }.get
      }
    protected def setPaused(s: SwitchSimState, flag: Boolean, ts: Long):
        (SwitchSimState, Seq[Out]) =
      if (flag == s.outIsPaused) (s, Nil) // client/topic.py:232-235
      else (s.copy(outIsPaused = flag),
        Seq(Out(ts, if (flag) 1.0 else 0.0, null, paused = true)))
    def step(s: SwitchSimState, e: Ev): (SwitchSimState, Seq[Out]) = {
      val idx = e.topic / 2
      if (e.topic % 2 == 1) { // _run_control_receiver, switch.py:54-63
        if (e.paused) {
          if (pauseFlag(e)) (s.copy(controlValues = s.controlValues - idx), Nil)
          else (s, Nil)
        } else if (e.value.isNaN) (s, Nil) // ValidationError → pass
        else { // set_value, switch.py:65-68
          val cv = s.controlValues.updated(idx, e.value)
          val s1 = s.copy(controlValues = cv)
          val sel = getSelectedIndex(cv)
          if (sel != -1) setPaused(s1, s1.isPaused(sel), e.ts) else (s1, Nil)
        }
      } else { // _run_input_receiver, switch.py:46-52
        val s1 =
          if (e.paused) s.copy(isPaused = s.isPaused.updated(idx, pauseFlag(e)))
          else s
        if (getSelectedIndex(s1.controlValues) == idx) {
          val (s2, m) = setPaused(s1, s1.isPaused(idx), e.ts)
          if (!e.paused) (s2, m :+ Out(e.ts, e.value, null)) else (s2, m)
        } else (s1, Nil)
      }
    }
  }

  // ctrl values 1.0/2.0 collide across pairs → insertion-order ties;
  // PC pops exercise re-insertion at the END of the order
  private val switchAlphabet: IndexedSeq[Sym] = Vector(
    "D0" -> data(0, 11.0), "D1" -> data(2, 22.0),
    "C0a" -> data(1, 1.0), "C0b" -> data(1, 2.0),
    "C1a" -> data(3, 1.0), "C1b" -> data(3, 2.0),
    "PC0" -> pause(1), "RC0" -> resume(1), "PC1" -> pause(3),
    "PD0" -> pause(0), "RD0" -> resume(0), "CN1" -> invalid(3))

  test("switch: all 12^5 words agree with the switch.py transcription " +
      "(insertion-order ties, pops, pause mirroring)") {
    val n = exhaust(new Switch(2), new SwitchSim, switchAlphabet, k = 5)
    assert(n == (1L to 5L).map(d => math.pow(12, d.toDouble).toLong).sum)
  }

  // ----------------------------------------------------- media switch sim
  /** Transcription of mediaswitch.py:11-27 layered on [[SwitchSim]]
    * (by composition — the control path is the switch's verbatim):
    * `_active_index` starts -1; a keyframe of the selected pair flips
    * it; data forwards only while `idx == active`. */
  private final case class MediaSimState(sw: SwitchSimState, activeIndex: Int)
  private final class MediaSwitchSim extends SimModel[MediaSimState] {
    private val inner = new SwitchSim {
      def selectedOf(cv: VectorMap[Int, Double]): Int = getSelectedIndex(cv)
      def pausedOf(s: SwitchSimState, flag: Boolean, ts: Long) =
        setPaused(s, flag, ts)
    }
    def init: MediaSimState = MediaSimState(inner.init, -1)
    def step(s: MediaSimState, e: Ev): (MediaSimState, Seq[Out]) = {
      val idx = e.topic / 2
      if (e.topic % 2 == 1) {
        val (sw2, outs) = inner.step(s.sw, e)
        (s.copy(sw = sw2), outs)
      } else { // _run_input_receiver override, mediaswitch.py:15-26
        val sw1 =
          if (e.paused)
            s.sw.copy(isPaused = s.sw.isPaused.updated(idx, pauseFlag(e)))
          else s.sw
        if (inner.selectedOf(sw1.controlValues) == idx) {
          val (sw2, m) = inner.pausedOf(sw1, sw1.isPaused(idx), e.ts)
          if (e.paused) (s.copy(sw = sw2), m)
          else {
            val active =
              if (idx != s.activeIndex && e.text == "k") idx // :20-24
              else s.activeIndex
            val fwd =
              if (idx == active) Seq(Out(e.ts, e.value, e.text)) else Nil // :25-26
            (MediaSimState(sw2, active), m ++ fwd)
          }
        } else (s.copy(sw = sw1), Nil)
      }
    }
  }

  private val mediaAlphabet: IndexedSeq[Sym] = Vector(
    "K0" -> data(0, 1.0, "k"), "N0" -> data(0, 2.0),
    "K1" -> data(2, 3.0, "k"), "N1" -> data(2, 4.0),
    "C0a" -> data(1, 1.0), "C0b" -> data(1, 2.0),
    "C1a" -> data(3, 1.0), "C1b" -> data(3, 2.0),
    "PC0" -> pause(1), "RC0" -> resume(1))

  test("media switch: all 10^5 words agree with the mediaswitch.py " +
      "transcription (deferred cutover from active=-1)") {
    val n = exhaust(new MediaSwitch(2), new MediaSwitchSim, mediaAlphabet, k = 5)
    assert(n == (1L to 5L).map(d => math.pow(10, d.toDouble).toLong).sum)
  }

  // --------------------------------------------------------- SR latch sim
  /** Transcription of srlatch.py:20-55: `set_value`/`reset_value` hold
    * the last received LEVEL per input; `send` flips only while they
    * disagree (both `if`s of :52-54 under `set_value != reset_value`),
    * then emits the current value. Invalid → ValidationError → skip. */
  private final case class LatchSimState(setValue: Boolean,
      resetValue: Boolean, value: Boolean)
  private final class SrLatchSim(defaultValue: Boolean)
      extends SimModel[LatchSimState] {
    def init = LatchSimState(setValue = false, resetValue = false,
      value = defaultValue)
    def step(s: LatchSimState, e: Ev): (LatchSimState, Seq[Out]) = {
      if (e.paused || e.value.isNaN) return (s, Nil)
      val s1 =
        if (e.topic == 0) s.copy(setValue = e.value > 0.5)
        else s.copy(resetValue = e.value > 0.5)
      // send (srlatch.py:51-55)
      var value = s1.value
      if (s1.setValue != s1.resetValue) {
        if (s1.setValue) value = true
        if (s1.resetValue) value = false
      }
      (s1.copy(value = value), Seq(Out(e.ts, if (value) 1.0 else 0.0, null)))
    }
  }

  private val latchAlphabet: IndexedSeq[Sym] = Vector(
    "S0" -> data(0, 0.0), "S1" -> data(0, 1.0),
    "R0" -> data(1, 0.0), "R1" -> data(1, 1.0),
    "SN" -> invalid(0), "RN" -> invalid(1))

  test("sr latch: all 6^7 words agree with the srlatch.py transcription " +
      "(level-based hold)") {
    val n = exhaust(new SrLatch(), new SrLatchSim(false), latchAlphabet, k = 7)
    assert(n == (1L to 7L).map(d => math.pow(6, d.toDouble).toLong).sum)
  }

  // --------------------------------------------------- concatenator sim
  /** Transcription of stringconcatenator.py:34-62: `value` accumulates
    * valid text; a control rising edge flushes only a NON-empty value
    * (:50-52); `last_control` updates on every valid control (:53);
    * control pause markers forward to the output's pause flag (:47). */
  private final case class ConcatSimState(value: String, lastControl: Double,
      outIsPaused: Boolean)
  private final class ConcatSim extends SimModel[ConcatSimState] {
    def init = ConcatSimState("", 0.0, outIsPaused = false)
    def step(s: ConcatSimState, e: Ev): (ConcatSimState, Seq[Out]) = {
      if (e.topic == 0) { // run_receiver (:57-62), recv_data drops markers
        if (e.paused || e.text == null) (s, Nil)
        else (s.copy(value = s.value + e.text), Nil)
      } else { // run_control_recv (:43-54)
        if (e.paused) {
          val flag = pauseFlag(e)
          if (flag == s.outIsPaused) (s, Nil)
          else (s.copy(outIsPaused = flag),
            Seq(Out(e.ts, if (flag) 1.0 else 0.0, null, paused = true)))
        } else if (e.value.isNaN) (s, Nil)
        else if (s.lastControl <= 0.5 && e.value > 0.5 && s.value.nonEmpty)
          (s.copy(value = "", lastControl = e.value),
            Seq(Out(e.ts, Double.NaN, s.value)))
        else (s.copy(lastControl = e.value), Nil)
      }
    }
  }

  private val concatAlphabet: IndexedSeq[Sym] = Vector(
    "Ta" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "a", paused = false)),
    "Tb" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "b", paused = false)),
    "C0" -> data(1, 0.0), "C1" -> data(1, 1.0),
    "CN" -> (i => Ev(1, 10L * (i + 1), Double.NaN, null, paused = false)),
    "PC" -> pause(1), "RC" -> resume(1), "PD" -> pause(0))

  test("string concatenator: all 8^6 words agree with the " +
      "stringconcatenator.py transcription (no empty flush)") {
    val n = exhaust(new StringConcatenator, new ConcatSim, concatAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(8, d.toDouble).toLong).sum)
  }

  // -------------------------------------------------------- calculator sim
  /** Transcription of calculator.py:227-240 (`run_input`/`send_value`):
    * any control marker resets the var to its default, invalid skips,
    * valid updates and emits the re-evaluated formula. */
  private final class CalcSim(defaults: Map[Int, Double],
      eval: Map[Int, Double] => Double) extends SimModel[Map[Int, Double]] {
    def init: Map[Int, Double] = defaults
    def step(m: Map[Int, Double], e: Ev): (Map[Int, Double], Seq[Out]) = {
      if (e.paused) (m + (e.topic -> defaults(e.topic)), Nil)
      else if (e.value.isNaN) (m, Nil)
      else {
        val m2 = m + (e.topic -> e.value)
        (m2, Seq(Out(e.ts, eval(m2), null)))
      }
    }
  }

  private val calcAlphabet: IndexedSeq[Sym] = Vector(
    "A-" -> data(0, 0.25), "A+" -> data(0, 0.75), "AN" -> invalid(0),
    "PA" -> pause(0), "RA" -> resume(0),
    "B" -> data(1, 2.0), "PB" -> pause(1))

  test("calculator: all 7^6 words agree with the calculator.py " +
      "transcription (marker resets, invalid skips)") {
    val defaults = Map(0 -> 1.5, 1 -> -3.0)
    val f = (vars: Map[Int, Double]) => vars(0) - 2 * vars(1)
    val n = exhaust(new Calculator(defaults, f), new CalcSim(defaults, f),
      calcAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(7, d.toDouble).toLong).sum)
  }

  // ------------------------------------------------------ text formatter sim
  /** Transcription of textformatter.py:62-75: marker resets the var to
    * "", invalid (null text) skips, valid updates and emits. */
  private final class FormatterSim(inputs: Int,
      format: Map[Int, String] => String) extends SimModel[Map[Int, String]] {
    def init: Map[Int, String] = (0 until inputs).map(_ -> "").toMap
    def step(m: Map[Int, String], e: Ev): (Map[Int, String], Seq[Out]) = {
      if (e.paused) (m + (e.topic -> ""), Nil)
      else if (e.text == null) (m, Nil)
      else {
        val m2 = m + (e.topic -> e.text)
        (m2, Seq(Out(e.ts, Double.NaN, format(m2))))
      }
    }
  }

  private val fmtAlphabet: IndexedSeq[Sym] = Vector(
    "Ta" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "a", paused = false)),
    "Tb" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "b", paused = false)),
    "TN" -> invalid(0), "PA" -> pause(0), "RA" -> resume(0),
    "Ux" -> (i => Ev(1, 10L * (i + 1), Double.NaN, "x", paused = false)),
    "PU" -> pause(1))

  test("text formatter: all 7^6 words agree with the textformatter.py " +
      "transcription") {
    val f = (vars: Map[Int, String]) => s"${vars(0)}|${vars(1)}"
    val n = exhaust(new TextFormatter(2, f), new FormatterSim(2, f),
      fmtAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(7, d.toDouble).toLong).sum)
  }

  // -------------------------------------------------------- time buffer sim
  /** Transcription of timebuffer.py:38-63 message mode with the
    * reference's deque: release while TOP-minus-HEAD ≥ size (len > 1),
    * flush a single remaining message while paused, output pause =
    * paused AND empty (transition-deduplicated). The sim uses the
    * LAST-element timestamp as `top` exactly as the python does. */
  private final case class TbSimState(queue: Vector[Ev], paused: Boolean,
      outIsPaused: Boolean)
  private final class TimeBufferSim(size: Long) extends SimModel[TbSimState] {
    def init = TbSimState(Vector.empty, paused = false, outIsPaused = false)
    def step(s: TbSimState, e: Ev): (TbSimState, Seq[Out]) = {
      val st =
        if (e.paused) s.copy(paused = pauseFlag(e))
        else s.copy(queue = s.queue :+ e)
      val out = Vector.newBuilder[Out]
      var q = st.queue
      var go = true
      while (q.length > 1 && go) { // run_sender_message (:47-60)
        if (q.last.ts - q.head.ts >= size) {
          out += Out(q.head.ts, q.head.value, q.head.text)
          q = q.tail
        } else go = false
      }
      if (q.length == 1 && st.paused) { // :62
        out += Out(q.head.ts, q.head.value, q.head.text)
        q = Vector.empty
      }
      val want = st.paused && q.isEmpty // :63
      if (want != st.outIsPaused)
        out += Out(e.ts, if (want) 1.0 else 0.0, null, paused = true)
      (st.copy(queue = q, outIsPaused = want), out.result())
    }
  }

  private val tbAlphabet: IndexedSeq[Sym] = Vector(
    "D1" -> (i => Ev(0, 25L * (i + 1), 1.0, null, paused = false)),
    "D2" -> (i => Ev(0, 25L * (i + 1), 2.0, null, paused = false)),
    "P" -> pause(0), "R" -> resume(0))

  test("time buffer: all 4^8 words agree with the timebuffer.py " +
      "transcription (flush-on-pause, out-pause mirror)") {
    val n = exhaust(new TimeBuffer(40), new TimeBufferSim(40),
      tbAlphabet, k = 8)
    assert(n == (1L to 8L).map(d => math.pow(4, d.toDouble).toLong).sum)
  }

  // ----------------------------------------------------------- repeater sim
  /** Transcription of repeater.py:36-69 (receiver + tick-projected
    * sender): markers forward to the output pause flag, invalid clears
    * (fail-closed) or forwards raw (fail-open), ticks emit the held
    * value only while unpaused. */
  private final case class RepSimState(currentData: Option[Double],
      outIsPaused: Boolean)
  private final class RepeaterSim(failClosed: Boolean)
      extends SimModel[RepSimState] {
    def init = RepSimState(None, outIsPaused = false)
    def step(s: RepSimState, e: Ev): (RepSimState, Seq[Out]) = {
      if (e.topic == 0) { // _run_receiver (:37-47)
        if (e.paused) {
          val flag = pauseFlag(e)
          if (flag == s.outIsPaused) (s, Nil)
          else (s.copy(outIsPaused = flag),
            Seq(Out(e.ts, if (flag) 1.0 else 0.0, null, paused = true)))
        } else if (e.value.isNaN && e.text == null) {
          if (failClosed) (s.copy(currentData = None), Nil)
          else (s, Seq(Out(e.ts, e.value, e.text)))
        } else (s.copy(currentData = Some(e.value)), Nil)
      } else { // _run_sender tick (:52-69)
        s.currentData match {
          case Some(v) if !s.outIsPaused => (s, Seq(Out(e.ts, v, null)))
          case _ => (s, Nil)
        }
      }
    }
  }

  private val repAlphabet: IndexedSeq[Sym] = Vector(
    "D1" -> data(0, 1.0), "D2" -> data(0, 2.0), "DN" -> invalid(0),
    "P" -> pause(0), "R" -> resume(0),
    "T" -> data(1, 0.0))

  test("repeater: all 6^7 words x {fail open, fail closed} agree with " +
      "the repeater.py transcription (pause keeps the hold)") {
    for (fc <- Seq(false, true)) {
      val n = exhaust(new Repeater(fc), new RepeaterSim(fc), repAlphabet, k = 7)
      assert(n == (1L to 7L).map(d => math.pow(6, d.toDouble).toLong).sum)
    }
  }

  // ---------------------------------------------------- synchronizer sim
  /** Transcription of SequentialInTopicSynchronizer
    * (client/topic.py:117-140) driven by per-topic receiver coroutines
    * (topic.py:170-186): each receiver is either IDLE (next queue item
    * unpulled) or BLOCKED in wait_for(ts). The sim schedules pulls in
    * ascending topic order and completions in ascending (ts, topic) —
    * the same canonical refinement the machine documents. */
  private final case class SyncSimState(queues: Map[Int, Vector[Ev]],
      topicTimestamps: Map[Int, Long], blocked: Map[Int, Ev])
  private final class SynchronizerSim(topics: Int)
      extends SimModel[SyncSimState] {
    def init = SyncSimState(
      (0 until topics).map(_ -> Vector.empty[Ev]).toMap, Map.empty, Map.empty)
    private def minTimestamp(tt: Map[Int, Long]): Long =
      if (tt.isEmpty) 0L else tt.values.min // topic.py:124
    def step(s: SyncSimState, e: Ev): (SyncSimState, Seq[Out]) = {
      var st = s.copy(queues = s.queues + (e.topic -> (s.queues(e.topic) :+ e)))
      val out = Vector.newBuilder[Out]
      var progress = true
      while (progress) {
        progress = false
        // idle receivers pull their next item (ascending topic)
        for (t <- 0 until topics
             if !st.blocked.contains(t) && st.queues(t).nonEmpty) {
          val item = st.queues(t).head
          st = st.copy(queues = st.queues + (t -> st.queues(t).tail))
          if (item.paused) { // set_paused (topic.py:132-134)
            val tt =
              if (pauseFlag(item)) st.topicTimestamps - t
              else st.topicTimestamps +
                (t -> minTimestamp(st.topicTimestamps))
            st = st.copy(topicTimestamps = tt)
          } else if (item.ts <
              st.topicTimestamps.getOrElse(t, 0L)) { // drop (:127)
            ()
          } else { // wait_for registers and blocks (:128-129)
            st = st.copy(
              topicTimestamps = st.topicTimestamps + (t -> item.ts),
              blocked = st.blocked + (t -> item))
          }
          progress = true
        }
        // blocked wait_fors whose ts reached the min complete (lowest
        // (ts, topic) first) and the task forwards the message
        val m = minTimestamp(st.topicTimestamps)
        val done = st.blocked.filter { case (_, ev) => ev.ts <= m }
        if (done.nonEmpty) {
          val (t, ev) = done.minBy { case (t, ev) => (ev.ts, t) }
          out += Out(ev.ts, ev.value, ev.text)
          st = st.copy(blocked = st.blocked - t)
          progress = true
        }
      }
      (st, out.result())
    }
  }

  // "old" data symbols step BACKWARD in ts to force late drops; pauses
  // pop the dict (forgetting progress), resumes re-register at min
  private val syncAlphabet: IndexedSeq[Sym] = Vector(
    "A" -> data(0, 1.0),
    "Aold" -> (i => Ev(0, math.max(0L, 10L * (i + 1) - 35), 1.5, null, paused = false)),
    "B" -> data(1, 2.0),
    "Bold" -> (i => Ev(1, math.max(0L, 10L * (i + 1) - 35), 2.5, null, paused = false)),
    "PA" -> pause(0), "RA" -> resume(0), "PB" -> pause(1), "RB" -> resume(1))

  test("synchronizer: all 8^6 words agree with the topic.py dict " +
      "transcription (silent topics, pause pops, late drops)") {
    val n = exhaust(new Synchronizer(2), new SynchronizerSim(2),
      syncAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(8, d.toDouble).toLong).sum)
  }

  // ------------------------------------------- output-container sync sim
  /** Transcription of OutputContainerSynchronizer
    * (media/outputcontainer.py:52-114) + the AVOutputStream duration
    * counter (media/container.py:118-160), independent of the
    * machine's fixpoint-drain formulation: per-topic receiver
    * coroutines hold the head packet in `wait_for`; the sim evaluates
    * the reference's conditions verbatim —
    *
    *  - late/unknown-topic drop: `ts < topic_timestamps.get(t, 0)` (:70-71);
    *  - startup barrier: every stream arrives once, then t0 = min (:73-75);
    *  - duration setter: dts counter c = max(c, floor((ts−t0)·den/1000·num))
    *    (container.py:132), compared across streams in lcm-of-dens units;
    *  - emit: own duration == min_duration over REGISTERED streams AND
    *    ts − max_desync ≤ min_timestamp (:85); mux advances c by
    *    frameAdv (container.py:155-160);
    *  - drop: ts == min_timestamp AND duration ≠ min_duration AND
    *    next-min-duration ts − max_desync > ts (:86-91);
    *  - paused/unregistered streams follow the emitting packet's
    *    duration (:94-96) and pause pops / resume re-registers at min
    *    (:103-105, same dict rule as the plain synchronizer);
    *
    * scheduled with the machine's documented canonical order (pulls by
    * ascending topic, then emits, then drops). */
  private final case class OcSimTopic(queue: Vector[Ev], waiting: Option[Ev],
      c: Long, inDict: Boolean, dictTs: Long)
  private final case class OcSimState(topics: Map[Int, OcSimTopic],
      t0: Option[Long])
  private final class OutputContainerSim(streams: Map[Int, OcStreamCfg],
      maxDesync: Long) extends SimModel[OcSimState] {
    private val ids = streams.keys.toVector.sorted
    private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    private val lcmDen = ids.map(streams(_).tbDen).reduce((a, b) => a / gcd(a, b) * b)
    private def durUnits(id: Int, c: Long): Long =
      c * streams(id).tbNum * (lcmDen / streams(id).tbDen)
    private def quant(id: Int, durMs: Long): Long =
      Math.floorDiv(durMs * streams(id).tbDen, 1000L * streams(id).tbNum)

    def init = OcSimState(
      ids.map(_ -> OcSimTopic(Vector.empty, None, 0L, inDict = false, 0L)).toMap,
      None)

    def step(s: OcSimState, e: Ev): (OcSimState, Seq[Out]) =
      if (!streams.contains(e.topic)) (s, Nil)
      else drain(s.copy(topics = s.topics + (e.topic ->
        s.topics(e.topic).copy(queue = s.topics(e.topic).queue :+ e))))

    private def drain(s0: OcSimState): (OcSimState, Seq[Out]) = {
      var s = s0
      val out = Vector.newBuilder[Out]
      var progress = true
      while (progress) {
        progress = false
        // receivers pull to FIXPOINT (ascending topic) before any emit
        // — the machine's documented canonical order (and e21's oracle
        // CTE): markers apply, late drops, data registers into wait_for
        // depth-first per topic, ascending (the machine's find-first
        // scan re-examines a topic after popping its marker before
        // moving on — visible when a resume reads the dict min)
        for (t <- ids) {
          while (s.topics(t).waiting.isEmpty && s.topics(t).queue.nonEmpty) {
            val tp = s.topics(t)
            val item = tp.queue.head
            val rest = tp.queue.tail
            if (item.paused) { // set_paused (:103-105)
              val tp2 =
                if (pauseFlag(item)) tp.copy(inDict = false, queue = rest)
                else {
                  // min_timestamp reads the FULL dict before the set
                  // (topic.py:124), including this topic's stale entry
                  val regged = ids.filter(s.topics(_).inDict)
                  val m = if (regged.nonEmpty) regged.map(s.topics(_).dictTs).min else 0L
                  tp.copy(inDict = true, dictTs = m, queue = rest)
                }
              s = s.copy(topics = s.topics + (t -> tp2))
            } else if (tp.inDict && item.ts < tp.dictTs) { // :70-71 late
              s = s.copy(topics = s.topics + (t -> tp.copy(queue = rest)))
            } else { // wait_for: register ts; duration set after barrier
              val c2 = s.t0 match {
                case Some(t0) => math.max(tp.c, quant(t, item.ts - t0))
                case None => tp.c
              }
              s = s.copy(topics = s.topics + (t ->
                tp.copy(waiting = Some(item), queue = rest, inDict = true,
                  dictTs = item.ts, c = c2)))
            }
            progress = true
          }
        }
        // startup barrier (:73-75): all streams have arrived once
        if (s.t0.isEmpty && ids.forall(t =>
            s.topics(t).waiting.isDefined)) {
          val t0 = ids.map(s.topics(_).dictTs).min
          s = s.copy(t0 = Some(t0), topics = s.topics.map { case (t, tp) =>
            t -> tp.copy(c = math.max(tp.c,
              quant(t, tp.waiting.get.ts - t0)))
          })
          progress = true
        }
        if (s.t0.isDefined) {
          val reg = ids.filter(s.topics(_).inDict)
          if (reg.nonEmpty) {
            lazy val minDur = reg.map(t => durUnits(t, s.topics(t).c)).min
            lazy val minTs = reg.map(s.topics(_).dictTs).min
            // drag paused/unregistered streams to the released
            // packet's duration (:94-96)
            def dragAbsent(ts: Long): Unit =
              s = s.copy(topics = s.topics.map { case (j, tj) =>
                if (tj.inDict) j -> tj
                else j -> tj.copy(c = math.max(tj.c, quant(j, ts - s.t0.get)))
              })
            // emit (:85), ascending topic
            val emit = ids.find(t => s.topics(t).waiting.isDefined &&
              s.topics(t).inDict &&
              durUnits(t, s.topics(t).c) == minDur &&
              s.topics(t).dictTs - maxDesync <= minTs)
            emit match {
              case Some(t) =>
                val tp = s.topics(t)
                out += Out(tp.waiting.get.ts, tp.c.toDouble, streams(t).label)
                s = s.copy(topics = s.topics + (t -> tp.copy(waiting = None,
                  c = tp.c + streams(t).frameAdv)))
                dragAbsent(tp.dictTs)
                progress = true
              case None =>
                // drop (:86-91), ascending topic
                lazy val nextMinTs = reg
                  .filter(t => durUnits(t, s.topics(t).c) == minDur)
                  .map(s.topics(_).dictTs).min
                val drop = ids.find(t => s.topics(t).waiting.isDefined &&
                  s.topics(t).inDict &&
                  s.topics(t).dictTs == minTs &&
                  durUnits(t, s.topics(t).c) != minDur &&
                  nextMinTs - maxDesync > s.topics(t).dictTs)
                drop.foreach { t =>
                  val tp = s.topics(t)
                  s = s.copy(topics = s.topics + (t -> tp.copy(waiting = None)))
                  dragAbsent(tp.dictTs)
                  progress = true
                }
            }
          }
        }
      }
      (s, out.result())
    }
  }

  // audio: tb 1/32000, 1024 samples per packet (32 ms); video: tb
  // 1/30, 1 frame (33.3 ms); ts advances 30 ms per position → the
  // quantized durations drift apart and exercise both the emit and the
  // bounded-desync drop rules; pauses exercise the drag rule
  private val ocAlphabet: IndexedSeq[Sym] = Vector(
    "A" -> (i => Ev(0, 30L * (i + 1), 1.0, null, paused = false)),
    "V" -> (i => Ev(1, 30L * (i + 1), 2.0, null, paused = false)),
    "PA" -> pause(0), "RA" -> resume(0), "PV" -> pause(1))

  test("output container: all 5^7 words agree with the " +
      "outputcontainer.py wait_for transcription") {
    val cfg = Map(
      0 -> OcStreamCfg(1, 32000, 1024, "audio"),
      1 -> OcStreamCfg(1, 30, 1, "video"))
    val n = exhaust(new OutputContainerSync(cfg, maxDesync = 50),
      new OutputContainerSim(cfg, maxDesync = 50), ocAlphabet, k = 7)
    assert(n == (1L to 7L).map(d => math.pow(5, d.toDouble).toLong).sum)
  }

  // --------------------------------------------------- replay buffer sim
  /** Transcription of replaybuffer.py:38-90 with the reference's own
    * structure: `buffer` + `last_paused` (run_input_receiver :38-48,
    * unpause-clear + stop_play :43-46), `playing`
    * (run_play_receiver :50-58, ValidationError skip), and `play_task`
    * (update_playing_state :77-82 — start a play iff playing ∧ no
    * task ∧ buffer non-empty, on EVERY append and play message; stop
    * when playing drops). The play() anchors at `sync.time` (:64-75),
    * which is WALL-anchored (utils.py:299-303) — in the event-time
    * domain, the wall clock at the moment a trigger is processed IS
    * the triggering event's own timestamp, so the model passes `e.ts`
    * as "now" into the trigger check. */
  private final case class ReplaySimState(buf: Vector[Ev],
      lastPaused: Boolean, playing: Boolean, playTask: Boolean)
  private final class ReplaySim extends SimModel[ReplaySimState] {
    def init = ReplaySimState(Vector.empty, lastPaused = false,
      playing = false, playTask = false)
    private def updatePlayingState(s: ReplaySimState,
        now: Long): (ReplaySimState, Seq[Out]) =
      if (s.playing && !s.playTask && s.buf.nonEmpty) {
        val off = now - s.buf.head.ts // time_offset = sync.time - ts, :68
        (s.copy(playTask = true),
          s.buf.map(b => Out(b.ts + off, b.value, b.text)))
      } else if (!s.playing) (s.copy(playTask = false), Nil) // stop_play
      else (s, Nil)
    def step(s: ReplaySimState, e: Ev): (ReplaySimState, Seq[Out]) =
      if (e.topic == 0) {
        if (e.paused) { // run_input_receiver control branch, :42-46
          val flag = !(e.value <= 0.5)
          if (!flag && s.lastPaused)
            (s.copy(lastPaused = false, buf = Vector.empty,
              playTask = false), Nil) // buffer.clear() + stop_play
          else (s.copy(lastPaused = flag), Nil)
        } else updatePlayingState(s.copy(buf = s.buf :+ e), e.ts) // :47-48
      } else {
        if (e.paused) (s, Nil) // recv_data skips control
        else if (e.value.isNaN) (s, Nil) // ValidationError, :58
        else updatePlayingState(s.copy(playing = e.value > 0.5), e.ts) // :57
      }
  }

  private val replayAlphabet: IndexedSeq[Sym] = Vector(
    "D" -> data(0, 1337.0), // record a message
    "PC" -> pause(0), "RC" -> resume(0), // record pause / unpause-clear
    "P1" -> data(1, 1.0), // play on
    "P0" -> data(1, 0.0), // play off
    "PN" -> invalid(1), // invalid play message (ValidationError skip)
    "PP" -> pause(1)) // control marker on the play topic (ignored)

  test("replay buffer: all 7^6 words agree with the replaybuffer.py " +
      "transcription (update_playing_state on append, play_task guard, " +
      "sync anchor, unpause clear+stop, invalid-play skip)") {
    val n = exhaust(new ReplayBuffer, new ReplaySim, replayAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(7, d.toDouble).toLong).sum)
  }

  // -------------------------------------------------- volume scaler sim
  /** Transcription of audiovolumescaler.py:70-95: the scale receiver
    * (control paused → default, :85; ValidationError → default, :89;
    * valid → value, :88) and the audio path (control mirrored to the
    * out topic with the OutTopic transition dedup,
    * client/topic.py:232-235; invalid skipped; samples
    * np.clip(x·scale, lo, hi).astype — truncation toward zero). */
  private final case class ScalerSimState(scale: Double, outPaused: Boolean)
  private final class ScalerSim(default: Double, lo: Double, hi: Double)
      extends SimModel[ScalerSimState] {
    def init = ScalerSimState(default, outPaused = false)
    def step(s: ScalerSimState, e: Ev): (ScalerSimState, Seq[Out]) =
      if (e.topic == 1) {
        val s2 =
          if (e.paused) {
            if (!(e.value <= 0.5)) s.copy(scale = default) else s
          }
          else if (e.value.isNaN) s.copy(scale = default)
          else s.copy(scale = e.value)
        (s2, Nil)
      } else {
        if (e.paused) {
          val p = !(e.value <= 0.5)
          if (p == s.outPaused) (s, Nil)
          else (s.copy(outPaused = p),
            Seq(Out(e.ts, if (p) 1.0 else 0.0, null, paused = true)))
        }
        else if (e.value.isNaN) (s, Nil)
        else {
          val clipped = math.max(lo, math.min(hi, e.value * s.scale))
          (s, Seq(Out(e.ts, clipped.toLong.toDouble, e.text)))
        }
      }
  }

  private val scalerAlphabet: IndexedSeq[Sym] = Vector(
    "D" -> data(0, 77.0), "DN" -> data(0, -123.0), // samples
    "DX" -> invalid(0), // invalid sample (skipped)
    "S2" -> data(1, 2.5), "SH" -> data(1, 1e6), // scale values (SH clips)
    "SN" -> invalid(1), // invalid scale → default
    "PS" -> pause(1), // scale control pause → default
    "PD" -> pause(0), "RD" -> resume(0)) // audio pause mirror

  test("volume scaler: all 9^6 words agree with the audiovolumescaler.py " +
      "transcription (default resets, clip+trunc, out-pause mirror)") {
    val n = exhaust(new VolumeScaler(1.0, -100.0, 100.0),
      new ScalerSim(1.0, -100.0, 100.0), scalerAlphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(9, d.toDouble).toLong).sum)
  }

  // --------------------------------------------------- volume meter sim
  /** Transcription of audiovolumemeter.py:30-70 + the AudioChunker
    * (media/util.py:130-147) with the chunker's own structure: a
    * sample buffer, `current_timestamp = ts − len·1000//rate` computed
    * BEFORE the append, blocks released while size > chunk_size and
    * back-stamped at buffer_duration steps; value =
    * sqrt(mean(|chunk|/max)). Pause emits a 0 at sync.time's
    * event-time projection (the marker's ts) and mirrors the
    * transition. */
  private final case class MeterSimState(buf: Vector[Double],
      outPaused: Boolean)
  private final class MeterSim(chunk: Int, rate: Long, maxV: Double)
      extends SimModel[MeterSimState] {
    def init = MeterSimState(Vector.empty, outPaused = false)
    def step(s: MeterSimState, e: Ev): (MeterSimState, Seq[Out]) =
      if (e.paused) {
        val p = !(e.value <= 0.5)
        val zero = if (p) Seq(Out(e.ts, 0.0, null)) else Nil
        val marker =
          if (p == s.outPaused) Nil
          else Seq(Out(e.ts, if (p) 1.0 else 0.0, null, paused = true))
        (s.copy(outPaused = p), zero ++ marker)
      }
      else if (e.value.isNaN) (s, Nil)
      else {
        var ct = e.ts - s.buf.length * 1000L / rate
        var buf = s.buf :+ e.value
        val outs = Vector.newBuilder[Out]
        while (buf.length > chunk) {
          val block = buf.take(chunk)
          // np.mean(|chunk|/max) regrouped as (Σ|v|)/max/n — equal as
          // reals; the grouping is pinned engine-wide because the SQL
          // oracle hashes it (see VolumeMeter's scaladoc)
          outs += Out(ct,
            math.sqrt(block.map(math.abs).sum / maxV / chunk), null)
          buf = buf.drop(chunk)
          ct += 1000L * chunk / rate
        }
        (s.copy(buf = buf), outs.result())
      }
  }

  private val meterAlphabet: IndexedSeq[Sym] = Vector(
    "D1" -> data(0, 100.0), "D2" -> data(0, -3000.0),
    "DX" -> invalid(0),
    "P" -> pause(0), "R" -> resume(0))

  test("volume meter: all 5^8 words agree with the audiovolumemeter.py + " +
      "AudioChunker transcription (strictly-greater release, " +
      "back-projected block ts, pause zero + mirror)") {
    val n = exhaust(new VolumeMeter(3, 1000L, 32767.0),
      new MeterSim(3, 1000L, 32767.0), meterAlphabet, k = 8)
    assert(n == (1L to 8L).map(d => math.pow(5, d.toDouble).toLong).sum)
  }

  // ------------------------------------------------- activity meter sim
  /** Transcription of videoactivitymeter.py:40-66: control → 0 at
    * sync.time's event-time projection + pause mirror (the held
    * bitmap PERSISTS across control — run_sync's last_bitmap is never
    * reset); invalid skipped; per frame the uint8-wraparound mean
    * |prev − cur| (the numpy uint8 subtraction wraps, so the model
    * recomputes (a − b) mod 256 per byte directly). */
  private final case class ActSimState(prev: Vector[Int], outPaused: Boolean)
  private final class ActivitySim extends SimModel[ActSimState] {
    def init = ActSimState(null, outPaused = false)
    private def bytes(hex: String): Vector[Int] =
      hex.grouped(2).map(Integer.parseInt(_, 16)).toVector
    def step(s: ActSimState, e: Ev): (ActSimState, Seq[Out]) =
      if (e.paused) {
        val p = !(e.value <= 0.5)
        val zero = if (p) Seq(Out(e.ts, 0.0, null)) else Nil
        val marker =
          if (p == s.outPaused) Nil
          else Seq(Out(e.ts, if (p) 1.0 else 0.0, null, paused = true))
        (s.copy(outPaused = p), zero ++ marker)
      }
      else if (e.text == null || e.text.isEmpty ||
        e.text.exists(c => !"0123456789abcdef".contains(c))) (s, Nil)
      else {
        val cur = bytes(e.text)
        val out =
          if (s.prev == null) Nil
          else Seq(Out(e.ts, s.prev.zip(cur)
            .map { case (a, b) => ((a - b) + 256) % 256 }.sum.toDouble
            / cur.length, null))
        (s.copy(prev = cur), out)
      }
  }

  test("activity meter: all 6^7 words agree with the " +
      "videoactivitymeter.py transcription (uint8 wraparound diff, " +
      "bitmap persists across control, pause zero + mirror)") {
    val alphabet: IndexedSeq[Sym] = Vector(
      "F1" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "00ff10", paused = false)),
      "F2" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "fe0180", paused = false)),
      "F3" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "7f7f7f", paused = false)),
      "FX" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "zz", paused = false)),
      "P" -> pause(0), "R" -> resume(0))
    val n = exhaust(new ActivityMeter, new ActivitySim, alphabet, k = 7)
    assert(n == (1L to 7L).map(d => math.pow(6, d.toDouble).toLong).sum)
  }

  // ---------------------------------------------------- video mixer sim
  /** Transcription of videomixer.py:101-128 with the reference's own
    * structure: per-track `last_message` + `last_frame_count`, the
    * GLOBAL `frame_count`, and the lazy submit — a data arrival whose
    * track's last_frame_count equals frame_count submits a job FIRST
    * (increments frame_count even when no track holds a frame, :112-115),
    * blending the held frames of every track that has one in track
    * order at the MIN of their timestamps; validation happens AFTER
    * the submit check (an invalid frame still submits but never
    * becomes the held frame, and last_frame_count stays stale); any
    * control clears the track's held frame only (:107). The blend
    * itself is [[graft.functions.ImageKernel.mergeImages]] on both
    * sides — its byte math is pinned separately by KernelSpec; this
    * walk pins the ORCHESTRATION. */
  private final case class VmxSimTrack(last: Option[(Long, String)],
      lastFc: Long)
  private final case class VmxSimState(tracks: Vector[VmxSimTrack],
      fc: Long)
  private final class VideoMixerSim(n: Int, alphaFront: Boolean)
      extends SimModel[VmxSimState] {
    def init = VmxSimState(Vector.fill(n)(VmxSimTrack(None, 0L)), 0L)
    private def valid(t: String): Boolean = t != null && t.nonEmpty &&
      t.length % 2 == 0 && t.forall("0123456789abcdef".contains(_))
    private def submit(s: VmxSimState): (VmxSimState, Seq[Out]) = {
      val s2 = s.copy(fc = s.fc + 1)
      val held = s.tracks.flatMap(_.last)
      if (held.isEmpty) (s2, Nil)
      else {
        val frames = held.map(h => graft.streaming.StateMachines
          .hexDec(h._2))
        val blended = graft.functions.ImageKernel
          .mergeImages(frames, alphaFront)
        (s2, Seq(Out(held.map(_._1).min, Double.NaN,
          graft.streaming.StateMachines.hexEnc(blended))))
      }
    }
    def step(s: VmxSimState, e: Ev): (VmxSimState, Seq[Out]) = {
      val tr = s.tracks(e.topic)
      if (e.paused)
        (s.copy(tracks = s.tracks.updated(e.topic,
          tr.copy(last = None))), Nil)
      else {
        val (s1, out) =
          if (tr.lastFc == s.fc) submit(s) else (s, Nil)
        if (!valid(e.text)) (s1, out) // ValidationError after the check
        else (s1.copy(tracks = s1.tracks.updated(e.topic,
          VmxSimTrack(Some((e.ts, e.text)), s1.fc))), out)
      }
    }
  }

  test("video mixer: all 7^6 words agree with the videomixer.py " +
      "transcription (lazy frame_count submission, empty-submit still " +
      "increments, post-check validation, min-ts blend, control clears " +
      "the held frame only)") {
    val alphabet: IndexedSeq[Sym] = Vector(
      "A1" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "10203040", paused = false)),
      "A2" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "ff00ff80", paused = false)),
      "B1" -> (i => Ev(1, 10L * (i + 1), Double.NaN, "01810203", paused = false)),
      "AX" -> (i => Ev(0, 10L * (i + 1), Double.NaN, "zz", paused = false)),
      "PA" -> pause(0), "RA" -> resume(0), "PB" -> pause(1))
    val n = exhaust(new VideoMixer(2), new VideoMixerSim(2,
      alphaFront = true), alphabet, k = 6)
    assert(n == (1L to 6L).map(d => math.pow(7, d.toDouble).toLong).sum)
  }

  // ---------------------------------------------------- audio mixer sim
  /** Transcription of audiomixer.py:76-120 + the AudioSequencer
    * (media/util.py:188-267) in the one-sample-per-tick domain
    * (rate = 1, so Fraction times are the integer sample clock and
    * every insert carries one sample): per-track sequencer objects
    * with the reference's own operations — `insert` (the desync
    * gap-fill/overlap branches transcribed, though dense per-track
    * ticks keep desync at 0 in this domain; max_stretch_ratio 1
    * disables stretching), `pop_start(target, n)` with the
    * pre-target discard slice and zero padding, soft/hard `reset` —
    * driven by the reference's run_track/send_next control flow
    * (barrier over unpaused-not-started, target = min unpaused start,
    * pop over every STARTED track, soft reset of paused tracks after
    * each round, hard reset on the unpause transition). Structurally
    * independent of the machine's queue-min-drain loop, so a
    * transcription error in either formulation diverges on some
    * word. */
  private final class SeqSim {
    var start: Option[Long] = None
    var buf: Vector[Double] = Vector.empty
    var desync: Long = 0
    def started: Boolean = start.isDefined
    def endTime: Long = start.get + buf.length
    def reset(force: Boolean): Unit =
      if (force || start.isEmpty || buf.isEmpty) {
        start = None; buf = Vector.empty; desync = 0
      }
    def insert(time: Long, v: Double): Unit =
      if (start.isEmpty) { start = Some(time); buf = Vector(v) }
      else {
        desync += time - endTime
        if (desync > 0) { // gap: zero-fill (stretch ratio 1 never stretches)
          buf = buf ++ Vector.fill(desync.toInt)(0.0) :+ v
          desync = 0
        } else if (desync < 0) { // overlap: drop from the new samples
          val dropped = math.min(-desync, 1L)
          if (dropped < 1) buf = buf :+ v // (unreachable with 1 sample)
          desync += dropped
        } else buf = buf :+ v
      }
    def maxSamples(target: Long): Long =
      math.max(0L, buf.length - (target - start.get))
    def popStart(target: Long, n: Int): Vector[Double] = {
      val off = (target - start.get).toInt
      val bufEnd = math.max(0, math.min(n + off, buf.length))
      val bufStart = math.min(math.max(0, off), buf.length)
      val pad = math.min(math.max(0, -off), n)
      var r = Vector.fill(pad)(0.0) ++ buf.slice(bufStart, bufEnd)
      buf = buf.drop(bufEnd)
      start = Some(start.get + bufEnd)
      if (r.length < n) r = r ++ Vector.fill(n - r.length)(0.0)
      r
    }
  }
  private final case class MixSimState(seqs: Vector[SeqSim],
      paused: Vector[Boolean])
  private final class MixerSim(n: Int) extends SimModel[MixSimState] {
    def init = MixSimState(Vector.fill(n)(new SeqSim),
      Vector.fill(n)(false))
    private def sendNext(m: MixSimState): Seq[Out] = {
      val outs = Vector.newBuilder[Out]
      var go = true
      while (go) {
        val unpausedIdx = m.seqs.indices.filter(i => !m.paused(i))
        if (unpausedIdx.isEmpty ||
            unpausedIdx.exists(i => !m.seqs(i).started)) go = false
        else {
          val target = unpausedIdx.map(i => m.seqs(i).start.get).min
          val num = unpausedIdx.map(i => m.seqs(i).maxSamples(target)).min
          if (num <= 0) go = false
          else {
            var sum = 0.0
            m.seqs.indices.foreach { i =>
              if (m.seqs(i).started)
                sum += m.seqs(i).popStart(target, 1).head
              if (m.paused(i)) m.seqs(i).reset(force = false)
            }
            outs += Out(target, sum, null)
          }
        }
      }
      outs.result()
    }
    def step(m: MixSimState, e: Ev): (MixSimState, Seq[Out]) = {
      if (e.paused) {
        val flag = !(e.value <= 0.5)
        if (m.paused(e.topic) && !flag)
          m.seqs(e.topic).reset(force = true) // hard reset on unpause
        val m2 = m.copy(paused = m.paused.updated(e.topic, flag))
        (m2, sendNext(m2)) // a pause can unblock the barrier
      } else if (e.value.isNaN) (m, Nil) // ValidationError skip
      else {
        m.seqs(e.topic).insert(e.ts, e.value)
        (m, sendNext(m))
      }
    }
  }

  test("audio mixer: all 7^6 words agree with the audiomixer.py + " +
      "AudioSequencer transcription (barrier, unpaused-min target, " +
      "paused-tail drain, pre-target discard, soft/hard resets)") {
    // The envelope domain is one row per SAMPLE TICK with per-track
    // DENSE tick clocks (a sample's ts is the track's own sample
    // index — the c12 fixture convention), so each track keeps its
    // own tick counter as the word plays; values encode (track, tick)
    // so any misalignment changes a sum. The model is stateful inside
    // SeqSim, so words replay fully instead of sharing prefixes.
    val syms = Vector("A", "B", "AN", "PA", "RA", "PB", "RB")
    val k = 6
    val total = math.pow(7, k.toDouble).toLong
    val machine = new AudioMixer(2)
    var w = 0L
    while (w < total) {
      var machineS = machine.init
      val sim = new MixerSim(2)
      var simS = sim.init
      val cnt = Array(0L, 0L)
      var x = w
      var pos = 0
      while (pos < k) {
        val a = (x % 7).toInt; x /= 7
        val e = syms(a) match {
          case "A" =>
            val t = cnt(0); cnt(0) += 1
            Ev(0, t, 100.0 + t, null, paused = false)
          case "B" =>
            val t = cnt(1); cnt(1) += 1
            Ev(1, t, 1000.0 + 7 * t, null, paused = false)
          case "AN" => Ev(0, cnt(0), Double.NaN, null, paused = false)
          case "PA" => Ev(0, cnt(0), Double.NaN, null, paused = true)
          case "RA" => Ev(0, cnt(0), 0.0, null, paused = true)
          case "PB" => Ev(1, cnt(1), Double.NaN, null, paused = true)
          case "RB" => Ev(1, cnt(1), 0.0, null, paused = true)
        }
        val (ms2, got) = machine.step(machineS, e)
        val (sim2, want) = sim.step(simS, e)
        assert(norm(got) == norm(want),
          s"word $w diverged at pos $pos (${syms(a)}): " +
            s"machine=$got model=$want")
        machineS = ms2; simS = sim2; pos += 1
      }
      w += 1
    }
  }

  // ------------------------------------- Spark mount, one-job exhaustive
  /** Every gate word of length 4 through StatefulRunner.runBatch in ONE
    * Spark job — 8^4 = 4096 independent keyed groups — compared against
    * the pure fold per word. Covers the runner's per-group sort and
    * fold plumbing over the full word set; timestamps are strictly
    * increasing per word so the (ts, priority, seq) sort is the word
    * order itself. */
  test("runner mount: all 8^4 gate words through one flatMapGroups job " +
      "== pure fold per word") {
    import spark.implicits._
    val k = 4
    val words = Seq.tabulate(math.pow(8, k.toDouble).toInt) { w =>
      (w, Seq.tabulate(k) { pos => (w / math.pow(8, pos.toDouble).toInt) % 8 })
    }
    val machine = new Gate(failOpen = false)
    val rows = words.flatMap { case (w, syms) =>
      syms.zipWithIndex.map { case (a, pos) =>
        val e = gateAlphabet(a)._2(pos)
        KEv(s"w$w", e.topic, e.ts, e.value, e.text, e.paused, pos.toLong)
      }
    }
    val got = StatefulRunner.runBatch(machine, spark.createDataset(rows))
      .collect().groupBy(_.key)
      .map { case (key, os) =>
        key -> norm(os.sortBy(o => (o.ts, o.paused)).toSeq
          .map(o => Out(o.ts, o.value, o.text, o.paused)))
      }
    words.foreach { case (w, syms) =>
      val expected = syms.zipWithIndex.foldLeft(
          (machine.init, Vector.empty[Out])) { case ((s, acc), (a, pos)) =>
        val (s2, os) = machine.step(s, gateAlphabet(a)._2(pos))
        (s2, acc ++ os)
      }._2
      val want = norm(expected.sortBy(o => (o.ts, o.paused)))
      assert(got.getOrElse(s"w$w", Nil) == want,
        s"word ${syms.map(gateAlphabet(_)._1).mkString(" ")}")
    }
  }
}
