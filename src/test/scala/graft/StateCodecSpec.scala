package graft

import graft.MachineTapes._
import graft.streaming.StateCodec
import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner.KEv
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.scalatest.funsuite.AnyFunSuite

/** State compatibility of the keyed-machine mounts: for every machine
  * `Pipeline.compileTask` mounts, each state a fold over a tape passes
  * through encodes, as `Some(state)`, to exactly the bytes Spark's Kryo
  * encoder for `Option[S]` (the mounts' former state encoder) writes,
  * and decodes back to an equal state — so state checkpointed under
  * that encoder stays readable. */
class StateCodecSpec extends AnyFunSuite with SparkFixture {

  private lazy val kryoOption =
    encoderFor(Encoders.kryo[Option[Any]]).createSerializer()
  private lazy val codecOption =
    encoderFor(StateCodec.encoder[Option[Any]]).createSerializer()

  test("the StateCodec encoder has the Kryo encoder's state schema, " +
      "nullability included") {
    assert(StateCodec.encoder[Option[Any]].schema ==
      Encoders.kryo[Option[Any]].schema)
  }

  /** Structural equality through arrays (and NaN-equal doubles). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[_], y: Array[_]) =>
      x.length == y.length && x.indices.forall(i => same(x(i), y(i)))
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) == 0
    case (x: collection.Map[_, _], y: collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) =>
        y.asInstanceOf[collection.Map[Any, Any]].get(k).exists(same(v, _)) }
    case (x: collection.Seq[_], y: collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: Product, y: Product) =>
      x.getClass == y.getClass &&
        x.productIterator.zip(y.productIterator).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** The init state and every state after a step of the runner-ordered
    * tape of key "a". */
  private def states[S](m: Machine[S], tape: Seq[KEv]): Seq[S] = {
    val es =
      if (m.arrivalOrder) tape.sortBy(_.seq)
      else tape.sortBy(e => (e.ts, m.priority(e.topic), e.seq))
    es.scanLeft(m.init) { (s, e) =>
      m.step(s, Ev(e.topic, e.ts, e.value, e.text, e.paused))._1
    }
  }

  private def check[S](name: String, m: Machine[S], topics: Set[Int],
      mkTape: String => Seq[KEv]): Unit =
    test(s"$name: StateCodec bytes of Some(state) equal the Kryo " +
        "encoder's and decode back to an equal state") {
      val ss = states(m, mkTape("a").filter(e => topics(e.topic)))
      assert(ss.length > 2)
      ss.zipWithIndex.foreach { case (s, i) =>
        val bytes = codecOption(Some(s)).getBinary(0)
        assert(bytes.sameElements(kryoOption(Some(s)).getBinary(0)),
          s"$name: state $i bytes differ")
        val back = StateCodec.decode(bytes).asInstanceOf[Option[S]]
        assert(back.exists(same(_, s)), s"$name: state $i decodes to $back")
      }
    }

  private val t01 = Set(0, 1)
  private val t0123 = Set(0, 1, 2, 3)

  check("gate", new Gate(failOpen = false), t01, tapeFor)
  check("gate fail-open", new Gate(failOpen = true), t01, tapeFor)
  check("sr latch", new SrLatch(), t01, tapeFor)
  check("switch", new Switch(2), t0123, tapeFor)
  check("media switch", new MediaSwitch(2), t0123, tapeFor)
  check("two-variable calculator",
    new Calculator(Map(0 -> 0.0, 1 -> 0.0), v => v(0) * 2 + v(1)), t01, tapeFor)
  check("synchronizer", new Synchronizer(2), t01, tapeFor)
  check("replay buffer", new ReplayBuffer, t01, tapeFor)
  check("output-container sync", new OutputContainerSync(Map(
    0 -> OcStreamCfg(1, 1000, 10, "aud"),
    1 -> OcStreamCfg(1, 25, 1, "vid")), maxDesync = 100), t01, tapeFor)
  check("text formatter",
    new TextFormatter(2, vars => s"a=${vars(0)} b=${vars(1)}"), t01, tapeFor)
  check("string concatenator", new StringConcatenator, t01, tapeFor)
  check("message detector", new MessageDetector(25), Set(0), tapeFor)
  check("time buffer", new TimeBuffer(25), t01, tapeFor)
  check("repeater", new Repeater(), t01, tapeFor)
  check("chat", new Chat(Some("sys"), 64,
    ms => s"r${ms.length}:${ms.last._2.take(4)}"), Set(0), tapeFor)
  check("volume scaler", new VolumeScaler(1.0, -32768, 32767), t01, tapeFor)
  check("volume meter", new VolumeMeter(3, 1000, 100.0), Set(0), tapeFor)
  check("asr chunked", new AsrChunked(graft.functions.AsrTiny.model.dim),
    Set(0), asrTape)
  check("tts synth", new TtsSynth(3), Set(0), tapeFor)
  check("audio mixer", new AudioMixer(2), t01, tapeFor)
  check("adpcm encoder", new AdpcmEncoder, Set(0), tapeFor)
  check("adpcm decoder", new AdpcmDecoder, Set(0), tapeFor)
  check("resampler", new Resampler(1000, 250), Set(0), tapeFor)
  check("activity meter", new ActivityMeter, Set(0), frameTape)
  check("video mixer", new VideoMixer(2), t01, frameTape)
  check("delta encoder", new DeltaEncoder(2), Set(0), frameTape)
  check("delta decoder", new DeltaDecoder, Set(0), packetTape)
}
