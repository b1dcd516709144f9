package graft

import graft.functions.AudioKernel
import graft.functions.AudioKernel.Sequencer
import graft.streaming.StateMachines._
import org.scalatest.funsuite.AnyFunSuite

/** AudioSequencer healing semantics (util.py:188-267) and the rolling
  * chat context (llamacppchat.py:49-77). Pure kernels — no Spark. */
class AudioChatSpec extends AnyFunSuite with TempDirs {

  private val rate = 10 // 10 samples/sec for easy math

  test("contiguous inserts concatenate without healing") {
    var s = Sequencer.init
    s = Sequencer.insert(s, 0.0, Array(1.0, 2, 3, 4, 5), rate, 2.0)
    s = Sequencer.insert(s, 0.5, Array(6.0, 7, 8, 9, 10), rate, 2.0)
    assert(s.buf == (1 to 10).map(_.toDouble).toVector)
    assert(s.desync == 0.0)
  }

  test("gap beyond stretch ratio zero-fills (gap heal)") {
    var s = Sequencer.init
    s = Sequencer.insert(s, 0.0, Array(1.0, 1, 1, 1, 1), rate, 1.1)
    // next chunk 2s late: 20-sample gap >> 10% stretch → zeros
    s = Sequencer.insert(s, 2.5, Array(2.0, 2, 2, 2, 2), rate, 1.1)
    assert(s.buf.length == 5 + 20 + 5)
    assert(s.buf.slice(5, 25).forall(_ == 0.0))
    assert(s.buf.takeRight(5).forall(_ == 2.0))
  }

  test("small gap within ratio stretches instead of zero-filling") {
    var s = Sequencer.init
    s = Sequencer.insert(s, 0.0, Array.fill(10)(1.0), rate, 2.0)
    // 0.1s late = 1 sample gap on 20 → 21/20 = 1.05 < 2.0 → stretch
    s = Sequencer.insert(s, 1.1, Array.fill(10)(1.0), rate, 2.0)
    assert(s.buf.length == 21)
    assert(s.buf.forall(v => v == 1.0)) // interp of constant = constant
  }

  test("overlap beyond ratio drops the overlapping head") {
    var s = Sequencer.init
    s = Sequencer.insert(s, 0.0, Array.fill(5)(1.0), rate, 1.05)
    // chunk claims t=0.2 but buffer ends at 0.5: 3-sample overlap
    s = Sequencer.insert(s, 0.2, Array(9.0, 9, 2, 2, 2), rate, 1.05)
    assert(s.buf == Vector(1.0, 1, 1, 1, 1, 2, 2))
  }

  test("popStart pads before the start and after the end") {
    var s = Sequencer.init
    s = Sequencer.insert(s, 1.0, Array(5.0, 6, 7), rate, 2.0)
    val (s2, out) = Sequencer.popStart(s, 0.8, 6, rate)
    // 2 pad samples (0.8→1.0), 3 buffered, 1 trailing zero
    assert(out.toSeq == Seq(0.0, 0.0, 5.0, 6.0, 7.0, 0.0))
    assert(s2.buf.isEmpty)
  }

  test("stretchLinear endpoints and midpoint interpolation") {
    val out = AudioKernel.stretchLinear(Array(0.0, 10.0), 3)
    assert(out.toSeq == Seq(0.0, 5.0, 10.0))
    assert(AudioKernel.resample(Array.fill(100)(1.0), 100, 50).length == 50)
  }

  test("crossfade overlaps linearly between chunk seams (util.py:173-186)") {
    val c1 = Array(1.0, 1, 1, 1)
    val (o1, tail1) = AudioKernel.crossfade(None, c1, 2)
    assert(o1.toSeq == c1.toSeq)        // first chunk untouched
    assert(tail1.toSeq == Seq(1.0, 1))
    val c2 = Array(3.0, 3, 3, 3)
    val (o2, _) = AudioKernel.crossfade(Some(tail1), c2, 2)
    // weights over 2 samples: new 0,1 / old 1,0
    assert(o2.toSeq == Seq(1.0, 3.0, 3.0, 3.0))
  }

  test("codec round trip: raw and pixel swizzle are inverses") {
    import graft.functions.Codec
    val frame = Array.tabulate[Byte](16)(i => i.toByte)
    assert(Codec.Raw.decode(Codec.Raw.encode(frame)).toSeq == frame.toSeq)
    val enc = Codec.RgbaBgra.encode(frame)
    assert(enc.toSeq != frame.toSeq)    // actually swizzled
    assert(Codec.RgbaBgra.decode(enc).toSeq == frame.toSeq)
  }

  test("chat keeps rolling context and evicts oldest on overflow; value " +
      "channel reports the post-eviction context size") {
    val m = new Chat(Some("sys prompt"), contextBudget = 12,
      reply = ms => s"reply${ms.count(_._1 == "user")}")
    var s = m.init
    def say(txt: String, ts: Long) = {
      val (s2, out) = m.step(s, Ev(0, ts, Double.NaN, txt, paused = false))
      s = s2; out
    }
    val o1 = say("hello there friend", 10)
    assert(o1.map(_.text) == Seq("reply1"))
    assert(o1.head.ts == 10) // reply carries the request timestamp
    // n_ctx bookkeeping: sys(2) + user(3) = 5 tokens at reply time
    assert(o1.head.value == 5.0)
    say("how are you today", 20)
    // context now near budget; the next message evicts the oldest turn
    say("this message overflows the context budget now", 30)
    assert(s.messages.head == ("system" -> "sys prompt")) // system kept
    assert(!s.messages.exists(_._2 == "hello there friend")) // evicted
    assert(s.messages.exists(_._2.contains("overflows")))   // newest kept
  }

  test("BigramLm decodes greedily from the context's last token, stops " +
      "at vocabulary edges, falls back to 'ok' (e40's learned kernel)") {
    val dir = tempDir("graft_bigram_")
    java.nio.file.Files.writeString(dir.resolve("part-00000"),
      "the\tquick\nquick\tbrown\nbrown\tfox\nfox\tjumps\nend\t.\n")
    try {
      val lm3 = graft.functions.BigramLm(dir.toString, steps = 3)
      def ctx(msg: String) = Vector("user" -> msg)
      // full chain: follows the argmax table 3 steps
      assert(lm3(ctx("see the")) == "quick brown fox")
      // decode conditions on the LAST token only (bigram property);
      // 'jumps' has no continuation, so the chain stops at 2 tokens
      assert(lm3(ctx("quick quick brown")) == "fox jumps")
      // chain shorter than steps: stops at the vocabulary edge
      assert(lm3(ctx("the end")) == ".")
      // out-of-vocabulary last token: deterministic fallback
      assert(lm3(ctx("zzz-unknown")) == "ok")
      // step budget respected
      assert(graft.functions.BigramLm(dir.toString, 1)(ctx("the")) == "quick")
      // the learned kernel drives the Chat machine end-to-end
      val m = new Chat(None, contextBudget = 64, reply = lm3)
      val (s1, out) = m.step(m.init,
        Ev(0, 5L, 0.0, "the", paused = false))
      assert(out.map(_.text) == Seq("quick brown fox"))
      assert(out.head.value == 1.0) // one-token context at reply time
      assert(s1.messages == Vector("user" -> "the",
        "assistant" -> "quick brown fox"))
    } finally {
      java.nio.file.Files.list(dir).forEach(p =>
        java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(dir)
    }
  }
}
