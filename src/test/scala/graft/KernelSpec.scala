package graft

import graft.functions.{FnTask, ImageKernel}
import graft.sources.NamedStreams
import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.KEv
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Time buffer / repeater machines, the 3-tier fntask surface, named
  * streams, and the image kernels. */
class KernelSpec extends AnyFunSuite with SparkFixture {

  // ------------------------------------------------------------- machines
  test("time buffer releases when newest - head >= size (timebuffer.py:44-63)") {
    val m = new TimeBuffer(100)
    val evs = Seq(
      Ev(0, 10, 1.0, null, false),
      Ev(0, 50, 2.0, null, false),
      Ev(0, 120, 3.0, null, false),  // newest=120: releases ts=10
      Ev(0, 200, 4.0, null, false))  // newest=200: releases ts=50, ts=100? no: 120 (200-120>=100 false... 80) → only 50
    val (s, outs) = evs.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }
    assert(outs.map(_.ts) == Seq(10L, 50L))
    assert(s.buf.map(_._1) == Seq(120L, 200L)) // tail stays buffered
  }

  test("repeater emits held value on ticks, nothing before first data") {
    val m = new Repeater
    val evs = Seq(
      Ev(1, 10, 0, null, false),      // tick before data → nothing
      Ev(0, 15, 7.5, null, false),    // data
      Ev(1, 20, 0, null, false),      // tick → 7.5
      Ev(1, 30, 0, null, false),      // tick → 7.5
      Ev(0, 35, 9.0, null, false),
      Ev(1, 40, 0, null, false))      // tick → 9.0
    val outs = evs.foldLeft((m.init, Vector.empty[Out])) {
      case ((s, acc), e) => val (s2, o) = m.step(s, e); (s2, acc ++ o) }._2
    assert(outs.map(o => (o.ts, o.value)) ==
      Seq((20L, 7.5), (30L, 7.5), (40L, 9.0)))
  }

  // ------------------------------------------------------- fntask 3 tiers
  test("fntask tier 1: scalar function lifts to a UDF column") {
    import spark.implicits._
    val double2 = FnTask.scalar((x: Double) => x * 2 + 1)
    val got = Seq(1.0, 2.0).toDF("v").select(double2(col("v")).as("r"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(3.0, 5.0))
  }

  test("fntask tier 2: stateful step function lifts to a machine") {
    import spark.implicits._
    // running max emitter
    val m = FnTask.stateful(Double.MinValue) { (s: Double, e: Ev) =>
      val nx = math.max(s, e.value); (nx, Seq(Out(e.ts, nx, null)))
    }
    val in = spark.createDataset(Seq(
      KEv("k", 0, 1, 3.0, null, false, 0), KEv("k", 0, 2, 1.0, null, false, 1),
      KEv("k", 0, 3, 5.0, null, false, 2)))
    val got = StatefulRunner.runBatch(m, in).collect().sortBy(_.ts).map(_.value).toSeq
    assert(got == Seq(3.0, 3.0, 5.0))
  }

  test("fntask tier 3: aggregator with map-side merge") {
    import spark.implicits._
    val meanAgg = FnTask.aggregator((0.0, 0L))(
      (b: (Double, Long), x: Double) => (b._1 + x, b._2 + 1),
      (a, b) => (a._1 + b._1, a._2 + b._2),
      b => b._1 / b._2)(Encoders.product[(Double, Long)], Encoders.scalaDouble)
    val ds: org.apache.spark.sql.Dataset[Double] = Seq(1.0, 2.0, 3.0, 6.0).toDS()
    val got = ds.select[Double](meanAgg.toColumn).head()
    assert(got == 3.0)
  }

  // --------------------------------------------------------- named streams
  test("named streams: publish/resolve round trip (namedoutput.py:26-37)") {
    import spark.implicits._
    NamedStreams.publish(Seq((1L, "x")).toDF("id", "v"), "named_t")
    assert(NamedStreams.exists(spark, "named_t"))
    assert(NamedStreams.resolve(spark, "named_t").count() == 1)
  }

  // ---------------------------------------------------------- image kernel
  test("mergeImages reproduces the integer alpha blend (video_perf_all.cpp:9-60)") {
    // 1 pixel RGBA (alpha last): base opaque red, overlay half-alpha green
    val base = Array[Byte](255.toByte, 0, 0, 255.toByte)
    val over = Array[Byte](0, 255.toByte, 0, 128.toByte)
    val out = ImageKernel.mergeImages(Seq(base, over), alphaFront = false)
    // after base layer: out=(255,0,0); overlay α=128: r=(127*255)/255=127,
    // g=(128*255)/255=128, b=0; alpha forced opaque
    assert(out.toSeq == Seq(127.toByte, 128.toByte, 0.toByte, 255.toByte))
  }

  test("mergeImages truncates to shortest layer like the reference") {
    val a = new Array[Byte](8)
    val b = new Array[Byte](4)
    assert(ImageKernel.mergeImages(Seq(a, b), alphaFront = true).length == 4)
  }

  test("layout pastes a resized frame onto a transparent canvas") {
    // 1x1 white RGBA frame → 2x2 placement at (1,1) on a 4x4 canvas
    val frame = Array[Byte](255.toByte, 255.toByte, 255.toByte, 255.toByte)
    val out = ImageKernel.layout(frame, 1, 1, 2, 2, 1, 1, 4, 4)
    def px(x: Int, y: Int) = out.slice((y * 4 + x) * 4, (y * 4 + x) * 4 + 4).toSeq
    assert(px(0, 0) == Seq[Byte](0, 0, 0, 0))              // transparent
    assert(px(1, 1) == Seq.fill(4)(255.toByte))            // pasted
    assert(px(2, 2) == Seq.fill(4)(255.toByte))
    assert(px(3, 3) == Seq[Byte](0, 0, 0, 0))
  }
  // ------------------------------------------------------ dHash (m21)
  test("dhash: brightness-invariant, bit 63 never set, local-edit bounded") {
    val g = ImageKernel.synthGray(137L)
    val h = ImageKernel.dhash(g)
    assert((h & (1L << 63)) === 0L, "bit 63 must stay clear (signed-safe)")
    // global brightness/contrast offset leaves every comparison intact
    val brighter = g.map(_ + 25)
    assert(ImageKernel.dhash(brighter) === h)
    // same-base variants (one bumped pixel in row 0) flip <= 2 bits each,
    // so any pair sits within hamming 4
    val base = 137L / 16 * 16
    val hs = (0 until 16).map(j => ImageKernel.dhash(ImageKernel.synthGray(base + j)))
    for (a <- hs; b <- hs)
      assert(java.lang.Long.bitCount(a ^ b) <= 4,
        "same-base variants exceeded the designed hamming bound")
  }

  test("dhash: distinct bases separate far beyond the verify threshold") {
    // md5-mixed pixels make distinct bases independent noise: expect
    // ~31 bits apart; the m21 verifier's threshold is 6
    val hs = (0L until 40L).map(b => ImageKernel.dhash(ImageKernel.synthGray(b * 16)))
    for (i <- hs.indices; j <- hs.indices if i < j)
      assert(java.lang.Long.bitCount(hs(i) ^ hs(j)) > 6,
        s"bases $i and $j collided under the verify threshold")
  }
}
