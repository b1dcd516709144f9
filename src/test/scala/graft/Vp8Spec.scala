package graft

import graft.functions.Vp8
import graft.sources.Ivf
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** VP8 key-frame codec properties (RFC 6386): the bool coder is a
  * bijection over random probability/bit sequences (the §7.3 decoder
  * is the normative reference code, so this pins the §8.1 encoder's
  * carry ledger), the token layer is lossless over every category
  * and context path, the full frame round-trips header fields, modes
  * and levels exactly, and the reconstruction matches closed forms
  * for each 16×16 predictor. Complements the m40 oracle the way
  * FlacPropSpec complements p13. */
class Vp8Spec extends AnyFunSuite with TempDirs {

  private def check[A](gen: Gen[A], trials: Int)(p: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(40912L)
    (0 until trials).foreach { _ =>
      p(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  // ---- bool coder ------------------------------------------------------------

  private val boolSeqGen: Gen[List[(Int, Int)]] = for {
    n <- Gen.choose(1, 3000)
    xs <- Gen.listOfN(n, for {
      p <- Gen.frequency((6, Gen.choose(1, 254)), (1, Gen.const(1)),
        (1, Gen.const(254)), (1, Gen.const(128)))
      b <- Gen.frequency((5, Gen.oneOf(0, 1)), (1, Gen.const(0)),
        (1, Gen.const(1)))
    } yield (p, b))
  } yield xs

  test("bool coder: decode ∘ encode = id over random prob/bit sequences " +
      "(incl. extreme probs and long one-runs that stress the carry)") {
    check(boolSeqGen, 60) { xs =>
      val e = new Vp8.BoolEncoder
      xs.foreach { case (p, b) => e.bool(b, p) }
      val bytes = e.stop()
      val d = new Vp8.BoolDecoder(bytes, 0, bytes.length)
      xs.zipWithIndex.foreach { case ((p, b), i) =>
        assert(d.bool(p) == b, s"bit $i of ${xs.length} (prob $p)")
      }
    }
    // adversarial carry stress: maximal-probability ones produce long
    // 0xff runs in the emitted stream, the exact carry-propagation path
    val e = new Vp8.BoolEncoder
    (0 until 4096).foreach(_ => e.bool(1, 254))
    val bytes = e.stop()
    val d = new Vp8.BoolDecoder(bytes, 0, bytes.length)
    (0 until 4096).foreach(i => assert(d.bool(254) == 1, s"one-run bit $i"))
  }

  test("literals round-trip at every width, interleaved with bools") {
    val gen = for {
      n <- Gen.choose(1, 200)
      xs <- Gen.listOfN(n, for {
        w <- Gen.choose(1, 16)
        v <- Gen.choose(0, (1 << w) - 1)
      } yield (w, v))
    } yield xs
    check(gen, 40) { xs =>
      val e = new Vp8.BoolEncoder
      xs.foreach { case (w, v) => e.literal(v, w) }
      val bytes = e.stop()
      val d = new Vp8.BoolDecoder(bytes, 0, bytes.length)
      xs.foreach { case (w, v) => assert(d.literal(w) == v) }
    }
  }

  // ---- full-frame round trip -------------------------------------------------

  private val levelGen: Gen[Int] = Gen.frequency(
    (8, Gen.const(0)),
    (3, Gen.choose(-4, 4)),
    (2, Gen.choose(-18, 18)),      // cat1-3
    (1, Gen.choose(-66, 66)),      // cat4-5
    (1, Gen.choose(-Vp8.MaxLevel, Vp8.MaxLevel))) // cat6 full width

  private def blockGen(firstCoeff: Int): Gen[Array[Int]] =
    Gen.listOfN(16, levelGen).map { l =>
      val a = l.toArray
      if (firstCoeff == 1) a(0) = 0 // Y DC travels through Y2
      a
    }

  private val mb16Gen: Gen[Vp8.MbCoding] = for {
    ym <- Gen.oneOf(Vp8.DcPred, Vp8.VPred, Vp8.HPred, Vp8.TmPred)
    uvm <- Gen.oneOf(Vp8.DcPred, Vp8.VPred, Vp8.HPred, Vp8.TmPred)
    y2 <- blockGen(0)
    y <- Gen.listOfN(16, blockGen(1))
    u <- Gen.listOfN(4, blockGen(0))
    v <- Gen.listOfN(4, blockGen(0))
  } yield Vp8.MbCoding(ym, uvm, y2, y.toArray, u.toArray, v.toArray)

  private val bMbGen: Gen[Vp8.MbCoding] = for {
    uvm <- Gen.oneOf(Vp8.DcPred, Vp8.VPred, Vp8.HPred, Vp8.TmPred)
    bms <- Gen.listOfN(16, Gen.choose(Vp8.BDc, Vp8.BHu))
    y <- Gen.listOfN(16, blockGen(0)) // type 3: own DC at position 0
    u <- Gen.listOfN(4, blockGen(0))
    v <- Gen.listOfN(4, blockGen(0))
  } yield Vp8.MbCoding(Vp8.BPred, uvm, new Array[Int](16), y.toArray,
    u.toArray, v.toArray, bms.toArray)

  private val mbGen: Gen[Vp8.MbCoding] =
    Gen.frequency((3, mb16Gen), (2, bMbGen))

  private val frameGen: Gen[Vp8.KeyFrame] = for {
    mbCols <- Gen.choose(1, 3)
    mbRows <- Gen.choose(1, 2)
    q <- Gen.choose(0, 127)
    mbs <- Gen.listOfN(mbCols * mbRows, mbGen)
  } yield Vp8.KeyFrame(mbCols * 16, mbRows * 16, q, mbs.toVector)

  test("frame round trip: header fields, modes and every coefficient " +
      "level decode back exactly (token layer lossless, all categories " +
      "and nonzero-context paths)") {
    check(frameGen, 30) { f =>
      val payload = Vp8.encode(f)
      val tag = Ivf.parseVp8Tag(payload)
      assert(tag.keyframe && tag.width == f.width && tag.height == f.height)
      assert(10 + tag.firstPartSize <= payload.length)
      val dec = Vp8.decode(payload)
      assert(dec.frame.width == f.width && dec.frame.height == f.height)
      assert(dec.frame.qindex == f.qindex)
      dec.frame.mbs.zip(f.mbs).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g.yMode == w.yMode && g.uvMode == w.uvMode, s"MB $i modes")
        assert(g.bModes.sameElements(w.bModes), s"MB $i submodes")
        assert(g.y2.sameElements(w.y2), s"MB $i y2")
        // under a Y2 block, Y scan position 0 is never coded; B_PRED
        // Y blocks carry their own DC and must round-trip in full
        val from = if (w.yMode == Vp8.BPred) 0 else 1
        (0 until 16).foreach(b => assert(
          g.y(b).drop(from).sameElements(w.y(b).drop(from)), s"MB $i y$b"))
        (0 until 4).foreach(b => assert(g.u(b).sameElements(w.u(b)) &&
          g.v(b).sameElements(w.v(b)), s"MB $i uv$b"))
      }
      // planes are fully populated and clamped
      assert(dec.y.forall(p => p >= 0 && p <= 255))
      assert(dec.u.forall(p => p >= 0 && p <= 255))
      assert(dec.v.forall(p => p >= 0 && p <= 255))
    }
  }

  // ---- reconstruction closed forms -------------------------------------------

  private def zeroMb(ym: Int, uvm: Int, y2dc: Int = 0): Vp8.MbCoding = {
    val y2 = new Array[Int](16); y2(0) = y2dc
    Vp8.MbCoding(ym, uvm, y2,
      Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)))
  }

  test("all-zero DC_PRED frame reconstructs flat 128 everywhere") {
    val f = Vp8.KeyFrame(48, 32, 20,
      Vector.fill(6)(zeroMb(Vp8.DcPred, Vp8.DcPred)))
    val dec = Vp8.decode(Vp8.encode(f))
    assert(dec.y.forall(_ == 128) && dec.u.forall(_ == 128) &&
      dec.v.forall(_ == 128))
  }

  test("all-zero H_PRED propagates the 129 left edge; TM_PRED the " +
      "129/127 frame-edge arithmetic") {
    val h = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 5,
      Vector.fill(4)(zeroMb(Vp8.HPred, Vp8.HPred)))))
    assert(h.y.forall(_ == 129) && h.u.forall(_ == 129))
    val tm = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 5,
      Vector.fill(4)(zeroMb(Vp8.TmPred, Vp8.TmPred)))))
    // row 0: clamp(129 + 127 - 127) = 129, and the edge then propagates
    assert(tm.y.forall(_ == 129) && tm.v.forall(_ == 129))
  }

  test("V_PRED + Y2-DC-only residual: the m40 closed form — at qindex 0 " +
      "(y2dc = 8) each MB adds (v+4)>>3 down its macroblock column") {
    val vs = Array(Array(9, 20), Array(67, 100)) // (mbRow)(mbCol)
    val mbs = for (j <- 0 until 2; c <- 0 until 2)
      yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = vs(j)(c))
    val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs.toVector)))
    for (j <- 0 until 2; c <- 0 until 2) {
      val want = 127 + (0 to j).map(i => (vs(i)(c) + 4) >> 3).sum
      for (y <- 0 until 16; x <- 0 until 16) {
        val got = dec.y((j * 16 + y) * 32 + c * 16 + x)
        assert(got == want, s"MB($j,$c) pixel($x,$y): $got != $want")
      }
    }
    assert(dec.u.forall(_ == 128) && dec.v.forall(_ == 128))
  }

  test("frames survive the IVF container (m38's layer): mux, demux, " +
      "decode each payload back to its own levels") {
    val frames = (0 until 3).map { t =>
      val mbs = Vector.tabulate(2)(i => zeroMb(Vp8.VPred, Vp8.DcPred,
        y2dc = 1 + 7 * t + i))
      Vp8.KeyFrame(32, 16, 0, mbs)
    }
    val ivf = Ivf.mux(Ivf.IvfHeader("VP80", 32, 16, 30, 1, 3),
      frames.zipWithIndex.map { case (f, t) =>
        Ivf.IvfFrame(t.toLong, Vp8.encode(f)) })
    val (hdr, rec) = Ivf.demux(ivf)
    assert(hdr.frameCount == 3)
    rec.zip(frames).foreach { case ((_, fr), want) =>
      val dec = Vp8.decode(fr.payload)
      assert(dec.frame.mbs.map(_.y2(0)) == want.mbs.map(_.y2(0)))
    }
  }

  private def bMb(sub: Int, yDc: Int): Vp8.MbCoding = {
    val y = Array.fill(16) { val b = new Array[Int](16); b(0) = yDc; b }
    Vp8.MbCoding(Vp8.BPred, Vp8.DcPred, new Array[Int](16), y,
      Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)),
      Array.fill(16)(sub))
  }

  test("B_PRED closed forms: all-zero B_DC reconstructs flat 128; " +
      "B_VE with a constant per-4x4 own-DC accumulates (4v+4)>>3 " +
      "down each pixel column (the m41 fixture arithmetic)") {
    // zero-residual B_DC: the 129 synthetic left edge pulls px=0
    // blocks to 129 while the 127 top edge pulls row 0 to 128, so the
    // plane settles into the {128, 129} band (the real decoder's
    // behavior too — edges are synthetic, not data)
    val dc = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      Vector.fill(4)(bMb(Vp8.BDc, 0)))))
    assert(dc.y.forall(v => v == 128 || v == 129))
    assert(dc.y.take(32).forall(_ == 128), "row 0 averages 127/129 edges")
    assert(dc.u.forall(_ == 128))
    for (v <- Seq(3, 11, 20)) {
      val dec2 = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
        Vector.fill(4)(bMb(Vp8.BVe, v)))))
      // qindex 0: ydc = 4, so each 4x4 block adds r = (4v+4)>>3 to the
      // row above it. B_VE's 121 filter mixes the synthetic 129 LEFT
      // edge at x = 0 and the mix creeps one column right per block
      // row, so the clean column-accumulation form holds for x ≥ j
      // (checked at x ≥ 8, safe through all 8 block rows)
      val r = (4 * v + 4) >> 3
      for (j <- 0 until 8; y <- 0 until 4; x <- 8 until 32) {
        val got = dec2.y((j * 4 + y) * 32 + x)
        assert(got == 127 + (j + 1) * r, s"v=$v block row $j px($x,$y)")
      }
      assert(dec2.u.forall(_ == 128) && dec2.v.forall(_ == 128))
    }
  }

  test("B_TM with per-4x4 own-DC residuals reconstructs 129 + the 2-D " +
      "prefix sum of block residuals exactly (the m41 fixture form — " +
      "TM cancels the uniform edges, so pred = L + A - AL telescopes)") {
    val rnd = new scala.util.Random(12)
    val vs = Array.fill(8, 8)(rnd.nextInt(3)) // v in {0,1,2} -> r in {0,1,1}
    val mbs = Vector.tabulate(4) { mi =>
      val (mj, mc) = (mi / 2, mi % 2)
      val y = Array.tabulate(16) { b =>
        val blk = new Array[Int](16)
        blk(0) = vs(mj * 4 + b / 4)(mc * 4 + b % 4); blk
      }
      Vp8.MbCoding(Vp8.BPred, Vp8.DcPred, new Array[Int](16), y,
        Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)),
        Array.fill(16)(Vp8.BTm))
    }
    val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs)))
    for (j <- 0 until 8; c <- 0 until 8) {
      val want = 129 + (for (j2 <- 0 to j; c2 <- 0 to c)
        yield (4 * vs(j2)(c2) + 4) >> 3).sum
      for (y <- 0 until 4; x <- 0 until 4) {
        val got = dec.y((j * 4 + y) * 32 + c * 4 + x)
        assert(got == want, s"block($j,$c) px($x,$y)")
      }
    }
  }

  test("simple loop filter: flat planes are invariant at every level; " +
      "a uniform horizontal MB edge gets the hand-derived f1/f2 " +
      "adjustment; level 0 is the identity") {
    // flat: p0 == q0 and p1 == q1 -> a = 0 -> no change, any level
    for (lvl <- Seq(1, 18, 63)) {
      val flat = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
        Vector.fill(4)(zeroMb(Vp8.DcPred, Vp8.DcPred)), lvl)))
      assert(flat.frame.filterLevel == lvl)
      assert(flat.y.forall(_ == 128), s"flat plane moved at level $lvl")
    }
    // the m43 form: V_PRED with one Y2-DC level per MB ROW (both MB
    // columns equal, so vertical edges see zero difference) — the only
    // active edge is the horizontal MB edge at y = 16, uniform step d
    for (v1 <- Seq(1, 40, 99); lvl <- Seq(18, 63)) {
      def rowMb(v: Int) = {
        val y2 = new Array[Int](16); y2(0) = v
        Vp8.MbCoding(Vp8.VPred, Vp8.DcPred, y2,
          Array.fill(16)(new Array[Int](16)),
          Array.fill(4)(new Array[Int](16)),
          Array.fill(4)(new Array[Int](16)))
      }
      val v0 = 9
      val mbs = Vector(rowMb(v0), rowMb(v0), rowMb(v1), rowMb(v1))
      val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs, lvl)))
      val r0 = (v0 + 4) >> 3; val d = (v1 + 4) >> 3
      val u = 127 + r0; val w = u + d
      // hand derivation: uniform edge -> a = clamp(3d + clamp(-d)) = 2d,
      // f1 = (2d+4)>>3 off row 16, f2 = (2d+3)>>3 onto row 15, applied
      // iff 2|p0-q0| + |p1-q1|/2 = 2d + d/2 <= mbLimit = 3*level + 4
      val applies = 2 * d + d / 2 <= 3 * lvl + 4
      val f1 = if (applies) (2 * d + 4) >> 3 else 0
      val f2 = if (applies) (2 * d + 3) >> 3 else 0
      // columns 15/16 of rows 15/16 additionally see MB(1,1)'s LEFT
      // edge pass, which runs BETWEEN the two top-edge passes and so
      // reads a transient col-15-filtered/col-16-raw step — a real
      // in-loop interaction; it moves pixels only when f1 ≥ 2, so the
      // plain closed form holds everywhere iff d ≤ 5 (m43 pins that
      // regime) and away from x ∈ {15,16} otherwise
      val xs = if (f1 >= 2) (0 until 32).filterNot(x => x == 15 || x == 16)
      else 0 until 32
      for (x <- xs) {
        assert(dec.y(15 * 32 + x) == u + f2, s"v1=$v1 lvl=$lvl row15 x$x")
        assert(dec.y(16 * 32 + x) == w - f1, s"v1=$v1 lvl=$lvl row16 x$x")
        assert(dec.y(14 * 32 + x) == u && dec.y(17 * 32 + x) == w,
          s"v1=$v1 lvl=$lvl simple filter must not touch p1/q1")
      }
    }
    // level 0 stays the identity on the same fixture (covered
    // implicitly by every other test; assert once explicitly)
    val mbs0 = Vector.fill(4)(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 50))
    val d0 = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs0, 0)))
    assert(d0.frame.filterLevel == 0)
    val r = (50 + 4) >> 3
    assert(d0.y(16 * 32) == 127 + 2 * r, "level 0 leaves the MB edge raw")
  }

  test("subset boundaries fail loudly: non-MB dimensions, malformed " +
      "B_PRED shapes, oversized levels, truncated tag") {
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(20, 16, 0, Vector(zeroMb(Vp8.DcPred, Vp8.DcPred)))
    }
    // B_PRED without its 16 submodes, and submodes without B_PRED
    intercept[IllegalArgumentException] {
      zeroMb(Vp8.BPred, Vp8.DcPred)
    }
    intercept[IllegalArgumentException] {
      Vp8.MbCoding(Vp8.DcPred, Vp8.DcPred, new Array[Int](16),
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)),
        Array.fill(16)(Vp8.BVe))
    }
    // B_PRED with a nonzero Y2 block
    intercept[IllegalArgumentException] {
      val y2 = new Array[Int](16); y2(0) = 1
      Vp8.MbCoding(Vp8.BPred, Vp8.DcPred, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)),
        Array.fill(16)(Vp8.BDc))
    }
    intercept[IllegalArgumentException] {
      val y2 = new Array[Int](16); y2(3) = Vp8.MaxLevel + 1
      Vp8.MbCoding(Vp8.DcPred, Vp8.DcPred, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)))
    }
    intercept[IllegalArgumentException] { Vp8.decode(Array[Byte](1, 2)) }
  }

  // ---- inter frames [§16-§18] ------------------------------------------------

  test("mv component codec: round-trips every magnitude class — zero, " +
      "short 1..7, the implied-bit-3 band 8..15, and the full ±1023 " +
      "long form — through the bool coder") {
    val gen = for {
      n <- Gen.choose(1, 120)
      xs <- Gen.listOfN(n, Gen.frequency(
        (2, Gen.const(0)),
        (3, Gen.choose(-7, 7)),
        (3, Gen.choose(-15, 8)),   // the implied-bit-3 band
        (3, Gen.choose(-1023, 1023))))
    } yield xs
    check(gen, 40) { xs =>
      // exercised through full MVs (row, col interleave) so the ×2
      // quarter→eighth scaling is covered too
      val pairs = xs.grouped(2).collect { case List(a, b) => (a, b) }.toList
      val e = new Vp8.BoolEncoder
      val mvs = pairs.map { case (r, c) => Vp8.Mv(r * 2, c * 2) }
      mvs.foreach(m => Vp8.writeMv(e, m))
      val bytes = e.stop()
      val d = new Vp8.BoolDecoder(bytes, 0, bytes.length)
      mvs.zipWithIndex.foreach { case (m, i) =>
        assert(Vp8.readMv(d) == m, s"mv $i of ${mvs.length}")
      }
    }
    // odd eighth-pel luma MVs are rejected loudly at the codec layer
    intercept[IllegalArgumentException] {
      Vp8.writeMv(new Vp8.BoolEncoder, Vp8.Mv(3, 0))
    }
  }

  test("six-tap subpel filter: literal hand fixture at phase 4 " +
      "(3,-16,77,77,-16,3 with +64>>7), constant planes invariant at " +
      "every phase pair, full-pel copy exact") {
    // horizontal phase 4 over [10,20,90,40,50,60]:
    // 30 - 320 + 6930 + 3080 - 800 + 180 + 64 = 9164 >> 7 = 71
    val ref = Array(10, 20, 90, 40, 50, 60, 0, 0)
    val out = new Array[Int](1)
    Vp8.mcPredict(ref, 8, 1, 2, 0, Vp8.Mv(0, 4), 1, 1, out)
    assert(out(0) == 71, s"phase-4 literal: ${out(0)}")
    // two-pass on a vertically constant plane gives the same value
    val ref2 = Array.tabulate(8 * 8)(i => ref(i % 8))
    Vp8.mcPredict(ref2, 8, 8, 2, 3, Vp8.Mv(4, 4), 1, 1, out)
    assert(out(0) == 71, s"two-pass on column-constant plane: ${out(0)}")
    // constant plane: every phase pair (incl. the odd chroma phases)
    // reproduces the constant — the filter rows sum to 128
    val const = Array.fill(16 * 16)(73)
    val blk = new Array[Int](16)
    for (fy <- 0 until 8; fx <- 0 until 8) {
      Vp8.mcPredict(const, 16, 16, 6, 6, Vp8.Mv(fy, fx), 1, 1, blk)
      assert(blk(0) == 73, s"phase ($fy,$fx)")
    }
    // full-pel copy with edge replication: reading past the right edge
    // replays the last column
    val grad = Array.tabulate(16)(x => 10 * x).concat(
      Array.tabulate(16)(x => 10 * x))
    Vp8.mcPredict(grad, 16, 2, 14, 0, Vp8.Mv(0, 32), 4, 1, blk)
    assert(blk.take(4).sameElements(Array(150, 150, 150, 150)))
  }

  private def interZero(ym: Int = Vp8.DcPred): Vp8.InterMb =
    Vp8.InterMb(inter = true, Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0,
      new Array[Int](16), Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)))

  private def interMb(mvMode: Int, mv: Vp8.Mv, y2dc: Int = 0): Vp8.InterMb = {
    val y2 = new Array[Int](16); y2(0) = y2dc
    Vp8.InterMb(inter = true, mvMode, mv, 0, 0, y2,
      Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), Array.fill(4)(new Array[Int](16)))
  }

  private def keyRef(vs: Array[Array[Int]]): Vp8.Decoded = {
    val mbs = (for (j <- vs.indices; c <- vs(0).indices)
      yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = vs(j)(c))).toVector
    Vp8.decode(Vp8.encode(Vp8.KeyFrame(vs(0).length * 16, vs.length * 16,
      0, mbs)))
  }

  test("inter ZEROMV with zero residual is the identity on all three " +
      "planes (motion compensation copies the LAST reference exactly)") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    val p = Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
      Vector.fill(4)(interZero())))
    val dec = Vp8.decodeInter(p, 32, 32, ref.y, ref.u, ref.v)
    assert(dec.y.sameElements(ref.y), "luma must be byte-identical")
    assert(dec.u.sameElements(ref.u) && dec.v.sameElements(ref.v))
    assert(dec.effMvs.forall(_.isZero))
  }

  test("inter NEWMV full-pel shift reads the displaced reference " +
      "block, chroma at the halved MV; residual adds on top") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    // MB(0,1) takes MB(0,0)'s pixels via mv (0,-128) eighth-pel = -16 px
    val f = Vp8.InterFrame(0, Vector(
      interZero(), interMb(Vp8.NewMv, Vp8.Mv(0, -128), y2dc = 40),
      interZero(), interZero()))
    val dec = Vp8.decodeInter(Vp8.encodeInter(32, 32, f), 32, 32,
      ref.y, ref.u, ref.v)
    val a = 127 + ((9 + 4) >> 3) // keyframe MB(0,0) value
    val r = (40 + 4) >> 3
    for (y <- 0 until 16; x <- 16 until 32)
      assert(dec.y(y * 32 + x) == a + r, s"px($x,$y)")
    // untouched MBs identical to the reference
    for (y <- 0 until 16; x <- 0 until 16)
      assert(dec.y(y * 32 + x) == ref.y(y * 32 + x))
    assert(dec.u.sameElements(ref.u) && dec.v.sameElements(ref.v))
    assert(dec.effMvs(1) == Vp8.Mv(0, -128))
  }

  test("§17.3 survey: NEARESTMV resolves to the dominant neighbor MV, " +
      "NEARMV to the second distinct candidate, and both round-trip " +
      "through the coded stream") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    val mvA = Vp8.Mv(0, 16)
    val mvB = Vp8.Mv(16, 0)
    val f = Vp8.InterFrame(0, Vector(
      interMb(Vp8.NewMv, mvA),         // (0,0): establishes candidate A
      interMb(Vp8.NearestMv, Vp8.Mv(0, 0)), // (0,1): left neighbor → A
      interMb(Vp8.NewMv, mvB),         // (1,0): candidate B
      interMb(Vp8.NearMv, Vp8.Mv(0, 0)))) // (1,1): above=A(2), left=B(2) → near=B
    val dec = Vp8.decodeInter(Vp8.encodeInter(32, 32, f), 32, 32,
      ref.y, ref.u, ref.v)
    assert(dec.effMvs(0) == mvA)
    assert(dec.effMvs(1) == mvA, "NEARESTMV must resolve to A")
    assert(dec.effMvs(2) == mvB)
    assert(dec.effMvs(3) == mvB, "NEARMV must resolve to the second candidate")
    assert(dec.frame.mbs(1).mvMode == Vp8.NearestMv)
    assert(dec.frame.mbs(3).mvMode == Vp8.NearMv)
  }

  private val interMbGen: Gen[Vp8.InterMb] = for {
    inter <- Gen.frequency((3, Gen.const(true)), (1, Gen.const(false)))
    mvMode <- Gen.oneOf(Vp8.ZeroMv, Vp8.NearestMv, Vp8.NearMv, Vp8.NewMv)
    mvr <- Gen.choose(-20, 20)
    mvc <- Gen.choose(-20, 20)
    ym <- Gen.oneOf(Vp8.DcPred, Vp8.VPred, Vp8.HPred, Vp8.TmPred)
    uvm <- Gen.oneOf(Vp8.DcPred, Vp8.VPred, Vp8.HPred, Vp8.TmPred)
    y2 <- blockGen(0)
    y <- Gen.listOfN(16, blockGen(1))
    u <- Gen.listOfN(4, blockGen(0))
    v <- Gen.listOfN(4, blockGen(0))
  } yield Vp8.InterMb(inter, mvMode, Vp8.Mv(mvr * 2, mvc * 2), ym, uvm,
    y2, y.toArray, u.toArray, v.toArray)

  test("inter frame round trip: intra/inter split, mv_ref modes, NEWMV " +
      "vectors, 16x16 intra modes and every coefficient level decode " +
      "back exactly over random frames") {
    val gen = for {
      mbCols <- Gen.choose(1, 3)
      mbRows <- Gen.choose(1, 2)
      q <- Gen.choose(0, 127)
      lvl <- Gen.frequency((3, Gen.const(0)), (1, Gen.choose(1, 40)))
      mbs <- Gen.listOfN(mbCols * mbRows, interMbGen)
      seed <- Gen.choose(0, 1000000)
    } yield (mbCols, mbRows, q, lvl, mbs, seed)
    check(gen, 25) { case (mbCols, mbRows, q, lvl, mbs, seed) =>
      val w = mbCols * 16; val hgt = mbRows * 16
      val rnd = new scala.util.Random(seed)
      val refY = Array.fill(w * hgt)(rnd.nextInt(256))
      val refU = Array.fill(w * hgt / 4)(rnd.nextInt(256))
      val refV = Array.fill(w * hgt / 4)(rnd.nextInt(256))
      val f = Vp8.InterFrame(q, mbs.toVector, lvl)
      val payload = Vp8.encodeInter(w, hgt, f)
      val tag = Ivf.parseVp8Tag(payload)
      assert(!tag.keyframe && 3 + tag.firstPartSize <= payload.length)
      val dec = Vp8.decodeInter(payload, w, hgt, refY, refU, refV)
      assert(dec.frame.qindex == q && dec.frame.filterLevel == lvl)
      dec.frame.mbs.zip(f.mbs).zipWithIndex.foreach { case ((g, want), i) =>
        assert(g.inter == want.inter, s"MB $i inter flag")
        if (want.inter) {
          assert(g.mvMode == want.mvMode, s"MB $i mv mode")
          if (want.mvMode == Vp8.NewMv)
            assert(g.mv == want.mv, s"MB $i NEWMV vector")
        } else
          assert(g.yMode == want.yMode && g.uvMode == want.uvMode,
            s"MB $i intra modes")
        assert(g.y2.sameElements(want.y2), s"MB $i y2")
        (0 until 16).foreach(b => assert(
          g.y(b).drop(1).sameElements(want.y(b).drop(1)), s"MB $i y$b"))
        (0 until 4).foreach(b => assert(g.u(b).sameElements(want.u(b)) &&
          g.v(b).sameElements(want.v(b)), s"MB $i uv$b"))
      }
      assert(dec.y.forall(p => p >= 0 && p <= 255))
      assert(dec.u.forall(p => p >= 0 && p <= 255))
      assert(dec.v.forall(p => p >= 0 && p <= 255))
    }
  }

  test("decodeStream chains keyframe → P-frames through the LAST " +
      "reference and re-anchors on a mid-stream keyframe; an inter " +
      "first frame fails loudly") {
    val vs = Array(Array(9, 20), Array(67, 100))
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      (for (j <- 0 until 2; c <- 0 until 2)
        yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = vs(j)(c))).toVector))
    val p1 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
      Vector(interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 16),
        interZero(), interZero(), interZero())))
    val frames = Vp8.decodeStream(Seq(key, p1, key))
    assert(frames.map(_.keyframe) == Vector(true, false, true))
    val a = 127 + ((9 + 4) >> 3)
    assert(frames(0).y(0) == a)
    assert(frames(1).y(0) == a + ((16 + 4) >> 3),
      "P-frame adds its residual onto the reference")
    assert(frames(2).y.sameElements(frames(0).y), "keyframe re-anchors")
    intercept[IllegalArgumentException] { Vp8.decodeStream(Seq(p1)) }
    ()
  }

  test("§16.3 golden reference: a GOLDEN-referencing MB re-anchors at " +
      "the keyframe pixels (drift-free) while LAST MBs accumulate; " +
      "the refGolden bit round-trips; golden without a buffer is loud") {
    val vs = Array(Array(9, 20), Array(67, 100))
    val key = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      (for (j <- 0 until 2; c <- 0 until 2)
        yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = vs(j)(c))).toVector)))
    def pMb(v: Int, golden: Boolean): Vp8.InterMb = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.InterMb(inter = true, Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), refGolden = golden)
    }
    // frame 1: every MB moves off LAST by +r1
    val f1 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
      Vector.fill(4)(pMb(40, golden = false))))
    val d1 = Vp8.decodeInter(f1, 32, 32, key.y, key.u, key.v,
      key.y, key.u, key.v)
    // frame 2: MB(0,0) continues off LAST; MB(0,1) zero-residual off
    // GOLDEN must equal the KEYFRAME pixels exactly (not frame 1's)
    val f2 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      pMb(40, golden = false), pMb(0, golden = true),
      pMb(0, golden = false), pMb(0, golden = false))))
    val d2 = Vp8.decodeInter(f2, 32, 32, d1.y, d1.u, d1.v,
      key.y, key.u, key.v)
    assert(d2.frame.mbs.map(_.refGolden) ==
      Vector(false, true, false, false))
    val r1 = (40 + 4) >> 3
    val a00 = 127 + ((9 + 4) >> 3)
    val a01 = 127 + ((20 + 4) >> 3)
    for (y <- 0 until 16) {
      for (x <- 0 until 16)
        assert(d2.y(y * 32 + x) == a00 + 2 * r1, s"LAST chain px($x,$y)")
      for (x <- 16 until 32)
        assert(d2.y(y * 32 + x) == a01, s"GOLDEN anchor px($x,$y)")
    }
    // golden-referencing stream without a golden buffer fails loudly
    val ex = intercept[IllegalArgumentException] {
      Vp8.decodeInter(f2, 32, 32, d1.y, d1.u, d1.v)
    }
    assert(ex.getMessage.contains("golden"))
    // decodeStream holds golden at the most recent keyframe: replaying
    // key, f1, f2 gives the same planes as the manual chain
    val st = Vp8.decodeStream(Seq(
      Vp8.encode(key.frame), f1, f2))
    assert(st(2).y.sameElements(d2.y) && st(2).u.sameElements(d2.u))
    // decodeInter on a keyframe payload fails loudly by name
    intercept[IllegalArgumentException] {
      Vp8.decodeInter(Vp8.encode(key.frame), 32, 32, key.y, key.u, key.v)
    }
  }

  test("mb_no_coeff_skip [§9.11]: skipped MBs round-trip in key AND " +
      "inter frames, reconstruct identically to their unskipped " +
      "all-zero form, shrink the bitstream, and reset the nonzero " +
      "contexts their neighbors read; nonzero levels under skip are " +
      "rejected loudly") {
    // keyframe: MB 1 and 2 skipped, 0 and 3 coded (nonzero y2 after a
    // skipped MB exercises the context reset on the following MB)
    def kMb(v: Int, sk: Boolean) = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.MbCoding(Vp8.VPred, Vp8.DcPred, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), skip = sk)
    }
    val withSkip = Vp8.KeyFrame(32, 32, 0,
      Vector(kMb(9, sk = false), kMb(0, sk = true), kMb(0, sk = true),
        kMb(67, sk = false)), skipEnabled = true)
    val without = Vp8.KeyFrame(32, 32, 0,
      Vector(kMb(9, sk = false), kMb(0, sk = false), kMb(0, sk = false),
        kMb(67, sk = false)))
    val pSkip = Vp8.encode(withSkip)
    val pFull = Vp8.encode(without)
    assert(pSkip.length < pFull.length,
      "skip must shrink the coded all-zero MBs to one bool each")
    val dec = Vp8.decode(pSkip)
    assert(dec.frame.skipEnabled)
    assert(dec.frame.mbs.map(_.skip) ==
      Vector(false, true, true, false), "skip flags must round-trip")
    assert(dec.y.sameElements(Vp8.decode(pFull).y),
      "skip is a bits feature: pixels must be identical")
    // inter frame with mixed skip
    def iMb(v: Int, sk: Boolean) = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.InterMb(inter = true, Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), skip = sk)
    }
    val pi = Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
      Vector(iMb(16, sk = false), iMb(0, sk = true), iMb(0, sk = true),
        iMb(24, sk = false)), skipEnabled = true))
    val di = Vp8.decodeInter(pi, 32, 32, dec.y, dec.u, dec.v)
    assert(di.frame.skipEnabled)
    assert(di.frame.mbs.map(_.skip) == Vector(false, true, true, false))
    // skipped ZEROMV MBs copy the reference byte-for-byte
    for (y <- 0 until 16; x <- 16 until 32)
      assert(di.y(y * 32 + x) == dec.y(y * 32 + x), s"skipped px($x,$y)")
    // guards: nonzero levels under skip, skip without the header flag
    intercept[IllegalArgumentException] { kMb(5, sk = true) }
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(32, 32, 0, Vector(kMb(0, sk = true), kMb(0, false),
        kMb(0, false), kMb(0, false)))
    }
  }

  test("quantizer deltas [§9.6]: all five per-plane deltas round-trip " +
      "through the header (flag + 4-bit magnitude + sign) and shift " +
      "exactly their own dequant factor; out-of-range deltas are loud") {
    val d = Vp8.QDeltas(ydc = 6, y2dc = -3, y2ac = 15, uvdc = -15, uvac = 1)
    // dequant wiring: each factor follows its own shifted index
    val dq = Vp8.dequantFactors(20, deltas = d)
    val p = Vp8.Profile.StandIn
    assert(dq.ydc == p.dcQ(26) && dq.yac == p.acQ(20))
    assert(dq.y2dc == p.dcQ(17) * 2)
    assert(dq.y2ac == math.max(8, p.acQ(35) * 155 / 100))
    assert(dq.uvdc == math.min(132, p.dcQ(5)) && dq.uvac == p.acQ(21))
    // clamping at the index edges
    assert(Vp8.dequantFactors(0, deltas = Vp8.QDeltas(ydc = -15)).ydc ==
      p.dcQ(0))
    assert(Vp8.dequantFactors(127, deltas = Vp8.QDeltas(ydc = 15)).ydc ==
      p.dcQ(127))
    // keyframe round-trip: deltas survive the header and move pixels —
    // the m40 V_PRED/Y2-DC form at qindex 0 with y2dc delta 6 has
    // y2dc factor dcQ(6)*2 = 20, so the uniform residual becomes
    // ((20*v+3)>>3 + 4) >> 3
    val v = 50
    val mbs = Vector.fill(4)(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = v))
    val f = Vp8.KeyFrame(32, 32, 0, mbs, qDeltas = Vp8.QDeltas(y2dc = 6))
    val dec = Vp8.decode(Vp8.encode(f))
    assert(dec.frame.qDeltas == Vp8.QDeltas(y2dc = 6))
    val r = (((20 * v + 3) >> 3) + 4) >> 3
    assert(dec.y(0) == 127 + r, s"delta-shifted residual: ${dec.y(0)}")
    // zero deltas stay bit-compatible with the pre-delta encoding
    val plain = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs)))
    assert(plain.frame.qDeltas.isZero)
    assert(plain.y(0) == 127 + ((v + 4) >> 3))
    // inter frames carry their own deltas
    val fI = Vp8.InterFrame(0, Vector(
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 40), interZero(),
      interZero(), interZero()), qDeltas = Vp8.QDeltas(y2dc = 6))
    val dI = Vp8.decodeInter(Vp8.encodeInter(32, 32, fI), 32, 32,
      plain.y, plain.u, plain.v)
    assert(dI.frame.qDeltas == Vp8.QDeltas(y2dc = 6))
    val rI = (((20 * 40 + 3) >> 3) + 4) >> 3
    assert(dI.y(0) == plain.y(0) + rI)
    intercept[IllegalArgumentException] { Vp8.QDeltas(ydc = 16) }
    intercept[IllegalArgumentException] { Vp8.QDeltas(uvac = -16) }
  }

  test("Profile: the appendix-constants seam is a value swap — an " +
      "alternative table set round-trips frames identically (pixels " +
      "and levels) while producing different coded bytes; malformed " +
      "profiles are rejected loudly") {
    // a second deterministic profile with every value in range
    val alt = Vp8.Profile(
      coeffProbs = Array.tabulate(4, 8, 3, 11)((t, b, c, n) =>
        1 + ((t * 17 + b * 29 + c * 41 + n * 11 + 3) * 71) % 254),
      bmodeProbs = Array.tabulate(10, 10, 9)((a, l, n) =>
        1 + ((a * 13 + l * 7 + n * 29 + 1) * 59) % 254),
      mvProbs = Array.tabulate(2, 19)((c, i) =>
        1 + ((c * 97 + i * 31 + 17) * 43) % 254),
      modeContexts = Array.tabulate(6, 4)((c, n) =>
        1 + ((c * 19 + n * 53 + 5) * 67) % 254),
      dcQ = Array.tabulate(128)(i => 6 + 2 * i),
      acQ = Array.tabulate(128)(i => 6 + 3 * i))
    // keyframe with B_PRED + levels through every table class
    check(frameGen, 8) { f =>
      val a = Vp8.encode(f, alt)
      val dec = Vp8.decode(a, alt)
      assert(dec.frame.qindex == f.qindex)
      dec.frame.mbs.zip(f.mbs).foreach { case (g, w) =>
        assert(g.yMode == w.yMode && g.y2.sameElements(w.y2))
      }
      // same frame under the stand-in profile codes DIFFERENT bytes
      // (the tables are load-bearing, not decorative)
      assert(!java.util.Arrays.equals(a, Vp8.encode(f)),
        "alt profile must change the bitstream")
    }
    // inter frame: MV probs + mode contexts + quantizers live too
    val rnd = new scala.util.Random(5)
    val refY = Array.fill(32 * 32)(rnd.nextInt(256))
    val refU = Array.fill(16 * 16)(rnd.nextInt(256))
    val refV = Array.fill(16 * 16)(rnd.nextInt(256))
    val fI = Vp8.InterFrame(9, Vector(
      interMb(Vp8.NewMv, Vp8.Mv(16, -16), y2dc = 7),
      interMb(Vp8.NearestMv, Vp8.Mv(0, 0), y2dc = 3),
      interZero(), interMb(Vp8.NewMv, Vp8.Mv(-32, 8), y2dc = 1)))
    val pAlt = Vp8.encodeInter(32, 32, fI, alt)
    val dAlt = Vp8.decodeInter(pAlt, 32, 32, refY, refU, refV,
      profile = alt)
    assert(dAlt.frame.mbs(0).mv == Vp8.Mv(16, -16))
    assert(dAlt.frame.mbs.map(_.y2(0)) == Vector(7, 3, 0, 1))
    assert(!java.util.Arrays.equals(pAlt, Vp8.encodeInter(32, 32, fI)))
    // dequant factors follow the profile's lookups
    assert(Vp8.dequantFactors(9, alt).ydc == 6 + 2 * 9)
    assert(Vp8.dequantFactors(9).ydc == 4 + 9)
    // malformed profiles fail loudly by name
    intercept[IllegalArgumentException] {
      alt.copy(mvProbs = Array.tabulate(2, 19)((_, _) => 0))
    }
    intercept[IllegalArgumentException] {
      alt.copy(dcQ = new Array[Int](5))
    }
  }

  test("§16.3 ALTREF: the third reference buffer is per-MB selectable " +
      "(bool(prob_last) then bool(prob_gf) = 1), reads ITS planes — " +
      "not golden's — and round-trips; altref without a buffer is loud") {
    val key = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      Vector.fill(4)(zeroMb(Vp8.DcPred, Vp8.DcPred)))))
    // distinguishable buffers: last = flat 128, golden = flat 140,
    // altref = flat 90 (hand-built planes)
    val gold = Array.fill(32 * 32)(140)
    val goldC = Array.fill(16 * 16)(140)
    val alt = Array.fill(32 * 32)(90)
    val altC = Array.fill(16 * 16)(90)
    def refMb(g: Boolean, a: Boolean) = Vp8.InterMb(inter = true,
      Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0, new Array[Int](16),
      Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), refGolden = g, refAltref = a)
    val p = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      refMb(g = false, a = false), refMb(g = true, a = false),
      refMb(g = false, a = true), refMb(g = false, a = false))))
    val dec = Vp8.decodeInter(p, 32, 32, key.y, key.u, key.v,
      gold, goldC, goldC, Vp8.Profile.StandIn, alt, altC, altC)
    assert(dec.frame.mbs.map(m => (m.refGolden, m.refAltref)) ==
      Vector((false, false), (true, false), (false, true), (false, false)))
    assert(dec.y(0) == 128, "LAST MB copies the keyframe")
    assert(dec.y(16) == 140, "GOLDEN MB copies the golden buffer")
    assert(dec.y(16 * 32) == 90, "ALTREF MB copies the altref buffer")
    val ex = intercept[IllegalArgumentException] {
      Vp8.decodeInter(p, 32, 32, key.y, key.u, key.v, gold, goldC, goldC)
    }
    assert(ex.getMessage.contains("altref"))
    intercept[IllegalArgumentException] {
      refMb(g = true, a = true) // exactly one buffer
    }
  }

  test("token partitions [§9.5]: all four legal counts round-trip with " +
      "identical pixels and levels (row r mod count assignment, 3-byte " +
      "size table), count survives the header; truncated partitions " +
      "and illegal counts are loud") {
    val rnd = new scala.util.Random(43)
    val mbs = Vector.tabulate(8)(i =>
      zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 1 + rnd.nextInt(90)))
    val base = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 64, 3, mbs)))
    for (parts <- Seq(2, 4, 8)) {
      val f = Vp8.KeyFrame(32, 64, 3, mbs, tokenPartitions = parts)
      val p = Vp8.encode(f)
      val dec = Vp8.decode(p)
      assert(dec.frame.tokenPartitions == parts, s"count $parts")
      assert(dec.y.sameElements(base.y), s"pixels at $parts partitions")
      assert(dec.frame.mbs.map(_.y2(0)) == mbs.map(_.y2(0)))
      // truncating the last partition must fail loudly in the token
      // walk, not silently mis-decode: chop enough bytes that the
      // bool decoder's zero-fill cannot mask the loss
      intercept[Exception] {
        val cut = Vp8.decode(p.dropRight(math.min(24, p.length / 4)))
        require(cut.y.sameElements(base.y), "vp8: truncated decode drifted")
      }
      ()
    }
    // inter frames: same contract against a random reference
    val refY = Array.fill(32 * 64)(rnd.nextInt(256))
    val refU = Array.fill(16 * 32)(rnd.nextInt(256))
    val refV = Array.fill(16 * 32)(rnd.nextInt(256))
    val imbs = Vector.tabulate(8)(i =>
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = rnd.nextInt(60)))
    val ibase = Vp8.decodeInter(
      Vp8.encodeInter(32, 64, Vp8.InterFrame(0, imbs)), 32, 64,
      refY, refU, refV)
    for (parts <- Seq(2, 8)) {
      val dec = Vp8.decodeInter(
        Vp8.encodeInter(32, 64,
          Vp8.InterFrame(0, imbs, tokenPartitions = parts)),
        32, 64, refY, refU, refV)
      assert(dec.frame.tokenPartitions == parts)
      assert(dec.y.sameElements(ibase.y), s"inter pixels at $parts")
    }
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(32, 64, 3, mbs, tokenPartitions = 3)
    }
  }

  test("SPLITMV [§16.2/§17.4]: the QUARTERS partitioning with four " +
      "NEW4X4 full-pel MVs reassembles four displaced reference MBs " +
      "into one macroblock; split type, sub-modes and effective " +
      "sub-MVs round-trip; chroma takes the rounded 4-MV average") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    val a = 127 + ((9 + 4) >> 3); val b = 127 + ((20 + 4) >> 3)
    val c0 = 127 + ((9 + 4) >> 3) + ((67 + 4) >> 3)
    val d0 = 127 + ((20 + 4) >> 3) + ((100 + 4) >> 3)
    def splitMb(mvs: Seq[Vp8.Mv], modes: Seq[Int]): Vp8.InterMb =
      Vp8.InterMb(inter = true, Vp8.SplitMv, Vp8.Mv(0, 0), 0, 0,
        new Array[Int](16), Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        splitType = 2, subModes = modes.toArray, subNewMvs = mvs.toArray)
    // MB(1,1) gathers all four reference MBs: q0 ← MB(0,0),
    // q1 ← MB(0,1), q2 ← MB(1,0), q3 ← itself (zero)
    val f = Vp8.InterFrame(0, Vector(
      interZero(), interZero(), interZero(),
      splitMb(Seq(Vp8.Mv(-128, -128), Vp8.Mv(-128, 0), Vp8.Mv(0, -128),
        Vp8.Mv(0, 0)), Seq(Vp8.SubNew, Vp8.SubNew, Vp8.SubNew,
        Vp8.SubZero))))
    val dec = Vp8.decodeInter(Vp8.encodeInter(32, 32, f), 32, 32,
      ref.y, ref.u, ref.v)
    val mb = dec.frame.mbs(3)
    assert(mb.mvMode == Vp8.SplitMv && mb.splitType == 2)
    assert(mb.subModes.toSeq == Seq(Vp8.SubNew, Vp8.SubNew, Vp8.SubNew,
      Vp8.SubZero))
    assert(mb.subNewMvs.toSeq == Seq(Vp8.Mv(-128, -128), Vp8.Mv(-128, 0),
      Vp8.Mv(0, -128), Vp8.Mv(0, 0)), "effective per-partition MVs")
    for (y <- 16 until 24; x <- 16 until 24)
      assert(dec.y(y * 32 + x) == a, s"q0 px($x,$y)")
    for (y <- 16 until 24; x <- 24 until 32)
      assert(dec.y(y * 32 + x) == b, s"q1 px($x,$y)")
    for (y <- 24 until 32; x <- 16 until 24)
      assert(dec.y(y * 32 + x) == c0, s"q2 px($x,$y)")
    for (y <- 24 until 32; x <- 24 until 32)
      assert(dec.y(y * 32 + x) == d0, s"q3 px($x,$y)")
    assert(dec.u.sameElements(ref.u), "flat chroma survives the collage")
    // untouched MBs identical
    for (y <- 0 until 16; x <- 0 until 32)
      assert(dec.y(y * 32 + x) == ref.y(y * 32 + x))
  }

  test("SPLITMV sub-MV modes: SIXTEENTHS with LEFT4X4/ABOVE4X4/ZERO4X4 " +
      "replication — each subblock inherits exactly the neighbor the " +
      "mode names; malformed split fields are loud") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    val m = Vp8.Mv(16, -16)
    // partition j = subblock j (16ths). 0: NEW=m; 1: LEFT (inherits 0);
    // 4: ABOVE (inherits 0); 2: ZERO; the rest LEFT chains
    val modes = Array.tabulate(16) {
      case 0 => Vp8.SubNew
      case 1 => Vp8.SubLeft
      case 4 => Vp8.SubAbove
      case 2 => Vp8.SubZero
      case _ => Vp8.SubLeft
    }
    val mvs = Array.tabulate(16)(j => if (j == 0) m else Vp8.Mv(0, 0))
    val mb = Vp8.InterMb(inter = true, Vp8.SplitMv, Vp8.Mv(0, 0), 0, 0,
      new Array[Int](16), Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      splitType = 3, subModes = modes, subNewMvs = mvs)
    val dec = Vp8.decodeInter(Vp8.encodeInter(32, 32,
      Vp8.InterFrame(0, Vector(mb, interZero(), interZero(),
        interZero()))), 32, 32, ref.y, ref.u, ref.v)
    val got = dec.frame.mbs(0).subNewMvs
    assert(got(0) == m && got(1) == m, "LEFT4X4 inherits subblock 0")
    assert(got(4) == m, "ABOVE4X4 inherits subblock 0")
    assert(got(2) == Vp8.Mv(0, 0), "ZERO4X4")
    assert(got(3) == Vp8.Mv(0, 0), "LEFT of a ZERO subblock")
    assert(got(5) == got(4), "LEFT chain continues")
    intercept[IllegalArgumentException] {
      Vp8.InterMb(inter = true, Vp8.SplitMv, Vp8.Mv(0, 0), 0, 0,
        new Array[Int](16), Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16))) // missing split fields
    }
    intercept[IllegalArgumentException] {
      val y2 = new Array[Int](16); y2(0) = 1
      Vp8.InterMb(inter = true, Vp8.SplitMv, Vp8.Mv(0, 0), 0, 0,
        y2, Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        splitType = 2, subModes = Array.fill(4)(Vp8.SubZero),
        subNewMvs = Array.fill(4)(Vp8.Mv(0, 0))) // Y2 under SPLITMV
    }
  }

  test("segmentation [§9.3/§10]: per-MB segment ids route each MB to " +
      "its own quantizer (absolute AND delta modes), the map tree and " +
      "feature data round-trip in key and inter frames, and per-MB " +
      "ids compose with skip; malformed segmentations are loud") {
    val seg = Vp8.Segmentation(absMode = true,
      Array(0, 20, 0, 0), Array(100, 128, 160))
    // keyframe: same Y2-DC level everywhere, segment 1 on the right
    // column — its MBs dequant at qindex 20 (y2dc = 2*dcQ(20) = 48)
    val v = 50
    def kMb(segId: Int) = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.MbCoding(Vp8.VPred, Vp8.DcPred, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), segment = segId)
    }
    val f = Vp8.KeyFrame(32, 32, 0,
      Vector(kMb(0), kMb(1), kMb(0), kMb(1)), segmentation = Some(seg))
    val dec = Vp8.decode(Vp8.encode(f))
    assert(dec.frame.segmentation.exists(g => g.absMode &&
      g.quant.toSeq == Seq(0, 20, 0, 0) &&
      g.mapProbs.toSeq == Seq(100, 128, 160)))
    assert(dec.frame.mbs.map(_.segment) == Vector(0, 1, 0, 1))
    val r0 = (((8 * v + 3) >> 3) + 4) >> 3   // seg 0: y2dc = 8
    val r1 = (((48 * v + 3) >> 3) + 4) >> 3  // seg 1: y2dc = 48
    assert(dec.y(0) == 127 + r0, s"seg-0 MB: ${dec.y(0)}")
    assert(dec.y(16) == 127 + r1, s"seg-1 MB: ${dec.y(16)}")
    // delta mode: seg 1 shifts the base index by +20 from qindex 0
    val segD = Vp8.Segmentation(absMode = false,
      Array(0, 20, 0, 0), Array(128, 128, 128))
    val decD = Vp8.decode(Vp8.encode(f.copy(segmentation = Some(segD))))
    assert(decD.y(16) == 127 + r1, "delta mode reaches the same index")
    // inter frame: segment ids + skip compose, per-segment residuals
    def iMb(segId: Int, vv: Int, sk: Boolean) = {
      val y2 = new Array[Int](16); if (!sk) y2(0) = vv
      Vp8.InterMb(inter = true, Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), skip = sk, segment = segId)
    }
    val fI = Vp8.InterFrame(0,
      Vector(iMb(0, 40, sk = false), iMb(1, 40, sk = false),
        iMb(2, 0, sk = true), iMb(0, 0, sk = false)),
      skipEnabled = true, segmentation = Some(seg))
    val dI = Vp8.decodeInter(Vp8.encodeInter(32, 32, fI), 32, 32,
      dec.y, dec.u, dec.v)
    assert(dI.frame.mbs.map(_.segment) == Vector(0, 1, 2, 0))
    assert(dI.frame.mbs(2).skip)
    assert(dI.y(0) == dec.y(0) + ((((8 * 40 + 3) >> 3) + 4) >> 3))
    assert(dI.y(16) == dec.y(16) + ((((48 * 40 + 3) >> 3) + 4) >> 3),
      "seg-1 residual dequants at its own index")
    assert(dI.y(16 * 32) == dec.y(16 * 32), "skipped MB copies LAST")
    // loud: segment ids without a header, bad values
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(32, 32, 0, Vector(kMb(1), kMb(0), kMb(0), kMb(0)))
    }
    intercept[IllegalArgumentException] {
      Vp8.Segmentation(absMode = true, Array(0, 200, 0, 0),
        Array(128, 128, 128))
    }
    intercept[IllegalArgumentException] {
      Vp8.Segmentation(absMode = true, Array(0, 0, 0, 0),
        Array(0, 128, 128))
    }
  }

  test("NORMAL loop filter [§15.3]: flat planes invariant; a uniform " +
      "MB edge gets the wide 27/18/9-tap adjustment with hand-derived " +
      "values through real coded frames; the hev path takes the " +
      "narrow 2-tap adjustment with the p1-q1 term") {
    // flat planes: every level, key and inter, all three planes
    for (lvl <- Seq(1, 18, 63)) {
      val flat = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
        Vector.fill(4)(zeroMb(Vp8.DcPred, Vp8.DcPred)), lvl,
        normalFilter = true)))
      assert(flat.frame.normalFilter && flat.frame.filterLevel == lvl)
      assert(flat.y.forall(_ == 128) && flat.u.forall(_ == 128),
        s"flat plane moved at normal level $lvl")
    }
    // single-MB-column frame (no vertical MB edges): the y=16 edge is
    // the only active one. v0=67 -> u=135; v1=99 -> d=12; the wide
    // path includes the p1-q1 term: f = clamp(-d + 3d) = 2d = 24, so
    // u27=(27*24+63)>>7=5, u18=3, u9=2 move rows 13..18
    val mbs = Vector(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 67),
      zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 99))
    val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs, 18,
      normalFilter = true)))
    val u = 135; val w = 147
    val expect = Map(13 -> (u + 2), 14 -> (u + 3), 15 -> (u + 5),
      16 -> (w - 5), 17 -> (w - 3), 18 -> (w - 2))
    for (y <- 0 until 32; x <- 0 until 16) {
      val want = expect.getOrElse(y, if (y < 16) u else w)
      assert(dec.y(y * 16 + x) == want, s"px($x,$y): ${dec.y(y * 16 + x)}")
    }
    // hev path directly: row 17 spikes so |q1-q0| > thresh -> the
    // narrow 2-tap with the p1-q1 term: f = clamp(-25 + 60) = 35,
    // F1 = 4, F2 = 4; outer rows untouched
    val plane = Array.tabulate(16 * 32)(i =>
      if (i / 16 < 16) 100 else if (i / 16 == 17) 125 else 120)
    Vp8.normalLoopFilter(plane, 16, 32, 18, keyframe = true, mbSize = 16)
    for (x <- 0 until 16) {
      assert(plane(15 * 16 + x) == 104, s"hev p0 x$x")
      assert(plane(16 * 16 + x) == 116, s"hev q0 x$x")
      assert(plane(14 * 16 + x) == 100 && plane(17 * 16 + x) == 125,
        s"hev outer rows must not move x$x")
    }
    // inter frames carry the flag too
    val pI = Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
      Vector.fill(4)(interZero()), filterLevel = 18, normalFilter = true))
    val ref = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      Vector.fill(4)(zeroMb(Vp8.DcPred, Vp8.DcPred)))))
    val dI = Vp8.decodeInter(pI, 32, 32, ref.y, ref.u, ref.v)
    assert(dI.frame.normalFilter && dI.y.forall(_ == 128))
  }

  test("Vp8Machine.StreamDecoder: the pure (state, event) fold matches " +
      "decodeStream frame-for-frame — reference planes carried in " +
      "machine state — and an inter frame before any keyframe is loud") {
    import graft.streaming.{StateMachines, Vp8Machine}
    val vs = Array(Array(9, 20), Array(67, 100))
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      (for (j <- 0 until 2; c <- 0 until 2)
        yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = vs(j)(c))).toVector))
    val ps = (1 to 3).map { t =>
      Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
        Vector.fill(4)(interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 8 * t))))
    }
    val payloads = key +: ps
    val want = Vp8.decodeStream(payloads)
    val hex = java.util.HexFormat.of()
    val m = new Vp8Machine.StreamDecoder
    var s = m.init
    payloads.zipWithIndex.foreach { case (p, t) =>
      val (ns, outs) = m.step(s, StateMachines.Ev(0, t.toLong, 0.0,
        hex.formatHex(p), paused = false))
      s = ns
      assert(outs.length == 1)
      val luma = want(t).y.iterator.map(_.toLong).sum
      val chroma = want(t).u.iterator.map(_.toLong).sum +
        want(t).v.iterator.map(_.toLong).sum
      assert(outs.head.value == luma.toDouble, s"frame $t luma")
      assert(outs.head.text == s"$chroma,${if (t == 0) 1 else 0}",
        s"frame $t text")
    }
    val ex = intercept[IllegalArgumentException] {
      m.step(m.init, StateMachines.Ev(0, 0L, 0.0,
        hex.formatHex(ps.head), paused = false))
    }
    assert(ex.getMessage.contains("before any keyframe"))
  }

  // ---- round 13: entropy updates, lf deltas, sharpness [§9.4/§9.7/§13.4] ------

  test("coefficient-probability updates [§13.4/§9.7]: updates ride the " +
      "header, persist when refresh_entropy_probs = 1, revert after the " +
      "frame when 0, and key frames reset to the profile defaults; a " +
      "decoder without the update desyncs") {
    val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
    val cxD = new Vp8.Ctx(Vp8.Profile.StandIn)
    def kf(vs: Seq[Int], upd: Vector[Vp8.CoeffUpdate]) =
      Vp8.KeyFrame(32, 32, 0,
        vs.map(v => zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = v)).toVector,
        coeffUpdates = upd)
    def pf(vs: Seq[Int], upd: Vector[Vp8.CoeffUpdate],
        refresh: Boolean) =
      Vp8.InterFrame(0,
        vs.map(v => interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)).toVector,
        refreshEntropy = refresh, coeffUpdates = upd)
    val u0 = Vector(Vp8.CoeffUpdate(1, 0, 0, 0, 77),
      Vp8.CoeffUpdate(1, 0, 1, 2, 200))
    val u1 = Vector(Vp8.CoeffUpdate(1, 0, 0, 0, 5))
    val u3 = Vector(Vp8.CoeffUpdate(1, 0, 0, 0, 9))
    val frames = Seq(
      Vp8.encode(kf(Seq(40, 50, 60, 70), u0), ctx = cxE),
      Vp8.encodeInter(32, 32, pf(Seq(8, 16, 24, 32), u1,
        refresh = false), ctx = cxE),
      Vp8.encodeInter(32, 32, pf(Seq(40, 41, 42, 43), Vector.empty,
        refresh = true), ctx = cxE),
      Vp8.encodeInter(32, 32, pf(Seq(7, 7, 7, 7), u3,
        refresh = true), ctx = cxE),
      Vp8.encodeInter(32, 32, pf(Seq(19, 23, 29, 31), Vector.empty,
        refresh = true), ctx = cxE))
    // frame 0: keyframe resets then applies u0, refresh=1 → persists
    val d0 = Vp8.decode(frames(0), ctx = cxD)
    assert(d0.frame.coeffUpdates == u0 && d0.frame.refreshEntropy)
    assert(d0.frame.mbs.map(_.y2(0)) == Vector(40, 50, 60, 70))
    assert(cxD.entropy.coeff(1)(0)(0)(0) == 77)
    var last = d0.y; var lastU = d0.u; var lastV = d0.v
    // frame 1: refresh=0 → u1 applies for this frame only
    val d1 = Vp8.decodeInter(frames(1), 32, 32, last, lastU, lastV,
      ctx = cxD)
    assert(d1.frame.coeffUpdates == u1 && !d1.frame.refreshEntropy)
    assert(d1.frame.mbs.map(_.y2(0)) == Vector(8, 16, 24, 32))
    assert(cxD.entropy.coeff(1)(0)(0)(0) == 77, "u1 must revert")
    last = d1.y; lastU = d1.u; lastV = d1.v
    // frame 2: coded under the post-u0 table — the values prove the
    // decoder kept it
    val d2 = Vp8.decodeInter(frames(2), 32, 32, last, lastU, lastV,
      ctx = cxD)
    assert(d2.frame.mbs.map(_.y2(0)) == Vector(40, 41, 42, 43))
    // the same bytes under a DEFAULT table desync (different levels,
    // or a loud failure)
    val desync = try {
      val dX = Vp8.decodeInter(frames(2), 32, 32, last, lastU, lastV)
      dX.frame.mbs.map(_.y2(0)) != Vector(40, 41, 42, 43)
    } catch { case _: Throwable => true }
    assert(desync, "default-table decode of an updated-table frame " +
      "must not silently agree")
    last = d2.y; lastU = d2.u; lastV = d2.v
    // frames 3-4: u3 persists across the frame boundary
    val d3 = Vp8.decodeInter(frames(3), 32, 32, last, lastU, lastV,
      ctx = cxD)
    assert(d3.frame.mbs.map(_.y2(0)) == Vector(7, 7, 7, 7))
    assert(cxD.entropy.coeff(1)(0)(0)(0) == 9)
    last = d3.y; lastU = d3.u; lastV = d3.v
    val d4 = Vp8.decodeInter(frames(4), 32, 32, last, lastU, lastV,
      ctx = cxD)
    assert(d4.frame.mbs.map(_.y2(0)) == Vector(19, 23, 29, 31))
    // a new keyframe resets the table to the profile default
    val dK = Vp8.decode(Vp8.encode(kf(Seq(1, 2, 3, 4), Vector.empty),
      ctx = cxE), ctx = cxD)
    assert(dK.frame.mbs.map(_.y2(0)) == Vector(1, 2, 3, 4))
    assert(cxD.entropy.coeff(1)(0)(0)(0) ==
      Vp8.Profile.StandIn.coeffProbs(1)(0)(0)(0))
    // malformed updates are loud
    intercept[IllegalArgumentException] { Vp8.CoeffUpdate(4, 0, 0, 0, 7) }
    intercept[IllegalArgumentException] { Vp8.CoeffUpdate(0, 0, 0, 0, 0) }
  }

  test("MV and mode probability updates [§17.2/§11.3]: the 2x19 flag + " +
      "7-bit x?x<<1:1 reads and the y/uv replacement sets ride the " +
      "header, mutate the entropy state, and later frames decode with " +
      "the updated tables") {
    val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
    val cxD = new Vp8.Ctx(Vp8.Profile.StandIn)
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    // anchor the entropy chain on a keyframe first
    Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      Vector.fill(4)(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 9)))), ctx = cxD)
    Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      Vector.fill(4)(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 9))), ctx = cxE)
    val mvU = Vector((0, 0, 100), (0, 3, 36), (1, 18, 1))
    val f1 = Vp8.InterFrame(0, Vector(
      interMb(Vp8.NewMv, Vp8.Mv(16, -16), y2dc = 3),
      Vp8.InterMb(inter = false, 0, Vp8.Mv(0, 0), Vp8.VPred, Vp8.HPred,
        new Array[Int](16), Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16))),
      interZero(), interMb(Vp8.NewMv, Vp8.Mv(-32, 8))),
      mvUpdates = mvU,
      ymodeUpdate = Some(Vector(50, 60, 70, 80)),
      uvmodeUpdate = Some(Vector(90, 100, 110)))
    val p1 = Vp8.encodeInter(32, 32, f1, ctx = cxE)
    val d1 = Vp8.decodeInter(p1, 32, 32, ref.y, ref.u, ref.v, ctx = cxD)
    assert(d1.frame.mvUpdates == mvU)
    assert(d1.frame.ymodeUpdate.contains(Vector(50, 60, 70, 80)))
    assert(d1.frame.uvmodeUpdate.contains(Vector(90, 100, 110)))
    assert(d1.frame.mbs(0).mv == Vp8.Mv(16, -16))
    assert(!d1.frame.mbs(1).inter && d1.frame.mbs(1).yMode == Vp8.VPred &&
      d1.frame.mbs(1).uvMode == Vp8.HPred)
    assert(cxD.entropy.mv(0)(0) == 100 && cxD.entropy.mv(0)(3) == 36 &&
      cxD.entropy.mv(1)(18) == 1)
    assert(cxD.entropy.ymode.toVector == Vector(50, 60, 70, 80))
    // frame 2 carries no updates but codes NEWMV + intra modes under
    // the UPDATED tables — exact decode proves persistence
    val f2 = Vp8.InterFrame(0, Vector(
      interMb(Vp8.NewMv, Vp8.Mv(-48, 24), y2dc = 5),
      Vp8.InterMb(inter = false, 0, Vp8.Mv(0, 0), Vp8.TmPred, Vp8.DcPred,
        new Array[Int](16), Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16))),
      interZero(), interZero()))
    val p2 = Vp8.encodeInter(32, 32, f2, ctx = cxE)
    val d2 = Vp8.decodeInter(p2, 32, 32, d1.y, d1.u, d1.v, ctx = cxD)
    assert(d2.frame.mbs(0).mv == Vp8.Mv(-48, 24))
    assert(d2.frame.mbs(1).yMode == Vp8.TmPred)
    // odd update probs (uncodable in the 7-bit form) are rejected
    intercept[IllegalArgumentException] {
      Vp8.InterFrame(0, Vector(interZero()), mvUpdates = Vector((0, 0, 7)))
    }
  }

  test("loop-filter deltas [§9.4]: per-reference and per-mode level " +
      "adjustments ride the header, apply per macroblock, persist " +
      "until the next update, and a delta that clamps the level to 0 " +
      "disables that MB's filtering") {
    def mbOf(v: Int) = zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = v)
    val mbs = Vector(mbOf(80), mbOf(40)) // 16x32: one active edge at y=16
    // intra ref delta -18 zeroes the level: pixels match the
    // unfiltered frame exactly
    val dOff = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs,
      filterLevel = 18, normalFilter = true, lfDeltaEnabled = true,
      lfDeltaUpdate = Some(Vp8.LfDeltaUpdate(Vector((0, -18)))))))
    val plain = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs)))
    assert(dOff.frame.lfDeltaEnabled &&
      dOff.frame.lfDeltaUpdate.contains(
        Vp8.LfDeltaUpdate(Vector((0, -18)))))
    assert(dOff.y.sameElements(plain.y), "level 18 - 18 = 0: no filtering")
    // delta 0 (enabled, explicit) matches the no-delta filtered decode
    val dZero = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs,
      filterLevel = 18, normalFilter = true, lfDeltaEnabled = true,
      lfDeltaUpdate = Some(Vp8.LfDeltaUpdate(Vector((0, 0)))))))
    val dPlainF = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs,
      filterLevel = 18, normalFilter = true)))
    assert(dZero.y.sameElements(dPlainF.y))
    // inter: the ZEROMV mode delta (slot 5) zeroes P-frame filtering;
    // deltas PERSIST — the second P-frame enables without updating
    val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
    val cxD = new Vp8.Ctx(Vp8.Profile.StandIn)
    val key = Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs), ctx = cxE)
    val kd = Vp8.decode(key, ctx = cxD)
    def pFrame(update: Option[Vp8.LfDeltaUpdate]) =
      Vp8.InterFrame(0, Vector(
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 48),
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 24)),
        filterLevel = 18, normalFilter = true, lfDeltaEnabled = true,
        lfDeltaUpdate = update)
    val p1 = Vp8.encodeInter(16, 32, pFrame(Some(Vp8.LfDeltaUpdate(
      Vector((1, -4), (5, -14))))), ctx = cxE) // LAST ref -4, ZEROMV -14
    val d1 = Vp8.decodeInter(p1, 16, 32, kd.y, kd.u, kd.v, ctx = cxD)
    assert(cxD.lfDeltas(1) == -4 && cxD.lfDeltas(5) == -14)
    // 18 - 4 - 14 = 0 → unfiltered: the edge step survives exactly
    val p1plain = Vp8.encodeInter(16, 32,
      Vp8.InterFrame(0, Vector(
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 48),
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 24))))
    val d1plain = Vp8.decodeInter(p1plain, 16, 32, kd.y, kd.u, kd.v)
    assert(d1.y.sameElements(d1plain.y))
    // p2: enabled, NO update → remembered deltas still zero the level
    val p2 = Vp8.encodeInter(16, 32, pFrame(None), ctx = cxE)
    val d2 = Vp8.decodeInter(p2, 16, 32, d1.y, d1.u, d1.v, ctx = cxD)
    assert(d2.frame.lfDeltaEnabled && d2.frame.lfDeltaUpdate.isEmpty)
    val p2plain = Vp8.encodeInter(16, 32,
      Vp8.InterFrame(0, Vector(
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 48),
        interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 24))))
    val d2plain = Vp8.decodeInter(p2plain, 16, 32, d1.y, d1.u, d1.v)
    assert(d2.y.sameElements(d2plain.y), "remembered deltas apply")
    // malformed updates are loud
    intercept[IllegalArgumentException] {
      Vp8.LfDeltaUpdate(Vector((8, 1)))
    }
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(16, 32, 0, mbs,
        lfDeltaUpdate = Some(Vp8.LfDeltaUpdate(Vector((0, 1)))))
    }
  }

  test("sharpness [§15.2]: the interior-limit rescale ladder is exact, " +
      "rides the header, and flips the edge mask at the regime " +
      "boundary — the same step filters at sharpness 0 and passes " +
      "through at sharpness 7") {
    assert((0 to 7).map(s => Vp8.interiorLimit(18, s)) ==
      Seq(18, 8, 7, 6, 5, 4, 3, 2))
    assert(Vp8.interiorLimit(1, 7) == 1, "floor at 1")
    assert(Vp8.interiorLimit(63, 1) == 8)
    def mbOf(v: Int) = zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = v)
    // d = (v1+4)>>3 = 18 → 2d + d/2 = 45; mbLim = 40 + interior:
    // sharpness 0 → 58 (filters), sharpness 7 → 42 (mask fails)
    val mbs = Vector(mbOf(80), mbOf(140))
    val s0 = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs,
      filterLevel = 18, normalFilter = true)))
    val s7 = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs,
      filterLevel = 18, normalFilter = true, sharpness = 7)))
    val plain = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0, mbs)))
    assert(s7.frame.sharpness == 7 && s0.frame.sharpness == 0)
    assert(s7.y.sameElements(plain.y), "sharpness 7 closes the mask")
    assert(!s0.y.sameElements(plain.y), "sharpness 0 filters the edge")
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(16, 32, 0, mbs, sharpness = 8)
    }
  }

  test("interior-edge skip [§15.1/§15.2]: a coefficientless whole-MV " +
      "inter MB keeps its interior subblock edges untouched; the same " +
      "MB with any coded coefficient filters them") {
    // reference: a vertical step of 4 at x = 8 (an interior edge)
    val refY = Array.tabulate(16 * 16)(i =>
      if (i % 16 < 8) 100 else 104)
    val refU = Array.fill(8 * 8)(128)
    val refV = Array.fill(8 * 8)(128)
    // coefficientless ZEROMV MB at simple-filter level 18: skipped
    val pNo = Vp8.encodeInter(16, 16,
      Vp8.InterFrame(0, Vector(interZero()), filterLevel = 18))
    val dNo = Vp8.decodeInter(pNo, 16, 16, refY, refU, refV)
    assert(dNo.y.sameElements(refY), "no coefficients: interior skipped")
    // one nonzero LEVEL (zero residual after dequant) flips the rule
    val pYes = Vp8.encodeInter(16, 16,
      Vp8.InterFrame(0, Vector(interMb(Vp8.ZeroMv, Vp8.Mv(0, 0),
        y2dc = 1)), filterLevel = 18))
    val dYes = Vp8.decodeInter(pYes, 16, 16, refY, refU, refV)
    // step 4: a = c127(12 + c127(-4)) = 8 → f1 = 1, f2 = 1
    assert((0 until 16).forall(r => dYes.y(r * 16 + 7) == 101 &&
      dYes.y(r * 16 + 8) == 103), "coefficients present: interior " +
      "edge filtered")
  }

  test("SPLITMV survey context [§17.3]: cnt[CNT_SPLITMV] counts split " +
      "neighbors (above 2, left 2, above-left 1) — frames with " +
      "adjacent SPLITMV macroblocks round-trip exactly") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    def split(): Vp8.InterMb = Vp8.InterMb(inter = true, Vp8.SplitMv,
      Vp8.Mv(0, 0), 0, 0, new Array[Int](16),
      Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), splitType = 2,
      subModes = Array(Vp8.SubNew, Vp8.SubZero, Vp8.SubZero, Vp8.SubNew),
      subNewMvs = Array(Vp8.Mv(-16, 0), Vp8.Mv(0, 0), Vp8.Mv(0, 0),
        Vp8.Mv(8, -8)))
    // MB0 split → MB1 sees a LEFT split neighbor; MB2 sees an ABOVE
    // split neighbor; MB3 sees above+left+above-left (cnt = 5)
    val f = Vp8.InterFrame(0, Vector(split(), split(), split(), split()))
    val d = Vp8.decodeInter(Vp8.encodeInter(32, 32, f), 32, 32,
      ref.y, ref.u, ref.v)
    d.frame.mbs.zipWithIndex.foreach { case (mb, i) =>
      assert(mb.mvMode == Vp8.SplitMv && mb.splitType == 2, s"mb $i")
      assert(mb.subModes.toSeq == Seq(Vp8.SubNew, Vp8.SubZero,
        Vp8.SubZero, Vp8.SubNew), s"mb $i sub modes")
    }
  }

  test("SPLITMV chroma 4-MV average rounds half away from zero " +
      "[§18.2]: a -4 sum yields chroma MV -1, not the floored 0") {
    val refY = Array.fill(16 * 16)(128)
    // vertical gradient on chroma so a -1 eighth-pel row MV changes
    // the prediction
    val refU = Array.tabulate(8 * 8)(i => 10 + 20 * (i / 8))
    val refV = Array.tabulate(8 * 8)(i => 200 - 10 * (i / 8))
    val subMvs = Array.tabulate(16)(j =>
      if (j == 0 || j == 1) Vp8.Mv(-2, 0) else Vp8.Mv(0, 0))
    val mb = Vp8.InterMb(inter = true, Vp8.SplitMv, Vp8.Mv(0, 0), 0, 0,
      new Array[Int](16), Array.fill(16)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)), splitType = 3,
      subModes = Array.fill(16)(Vp8.SubNew), subNewMvs = subMvs)
    val d = Vp8.decodeInter(Vp8.encodeInter(16, 16,
      Vp8.InterFrame(0, Vector(mb))), 16, 16, refY, refU, refV)
    // chroma block (0,0) covers luma subblocks 0,1,4,5: row sum -4 →
    // §18.2 rounding gives -1 (half away from zero)
    val want = new Array[Int](16)
    Vp8.mcPredict(refU, 8, 8, 0, 0, Vp8.Mv(-1, 0), 4, 4, want)
    val got = Array.tabulate(16)(i => d.u((i / 4) * 8 + (i % 4)))
    assert(got.sameElements(want), "chroma MV must be Mv(-1, 0)")
    val floored = new Array[Int](16)
    Vp8.mcPredict(refU, 8, 8, 0, 0, Vp8.Mv(0, 0), 4, 4, floored)
    assert(!got.sameElements(floored),
      "the gradient distinguishes -1 from the floored 0")
  }

  test("Profile JSON injection path: render → parse round-trips every " +
      "table, absent fields keep the stand-in, malformed documents are " +
      "loud, and RunDecode decodes an IVF stream under a user-supplied " +
      "profile end to end") {
    import graft.functions.Vp8ProfileJson
    // full round trip (content compare via render — arrays have
    // reference equality)
    val json = Vp8ProfileJson.render(Vp8.Profile.StandIn)
    assert(Vp8ProfileJson.render(Vp8ProfileJson.parse(json)) == json)
    // a partial document swaps ONLY the named tables
    val alt = Vp8ProfileJson.parse(
      """{"dcQ": [""" + Array.tabulate(128)(i => 6 + 2 * i)
        .mkString(",") + """]}""")
    assert(alt.dcQ(0) == 6 && alt.dcQ(127) == 6 + 254)
    assert(Vp8ProfileJson.render(alt.copy(dcQ = Vp8.Profile.StandIn.dcQ))
      == json, "absent fields must keep the stand-in")
    intercept[IllegalArgumentException] {
      Vp8ProfileJson.parse("""{"mvProbs": [[1,2],[3]]}""")
    }
    intercept[IllegalArgumentException] {
      Vp8ProfileJson.parse("""{"dcQ": ["x"]}""")
    }
    // end to end: encode a 2-frame stream under an alternative
    // profile, write the profile as JSON, RunDecode it from disk
    val altFull = Vp8ProfileJson.parse(
      """{"dcQ": [""" + Array.tabulate(128)(i => 6 + 2 * i)
        .mkString(",") + """]}""")
    val cxE = new Vp8.Ctx(altFull)
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 9,
      Vector.fill(4)(zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 30))), ctx = cxE)
    val p1 = Vp8.encodeInter(32, 32, Vp8.InterFrame(9,
      Vector.fill(4)(interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 7))),
      ctx = cxE)
    val ivf = Ivf.mux(Ivf.IvfHeader("VP80", 32, 32, 30, 1, 2L),
      Seq(Ivf.IvfFrame(0L, key), Ivf.IvfFrame(1L, p1)))
    val dir = tempDir("rundecode")
    val pj = dir.resolve("profile.json")
    java.nio.file.Files.write(pj,
      Vp8ProfileJson.render(altFull).getBytes("UTF-8"))
    val in = dir.resolve("in.ivf")
    java.nio.file.Files.write(in, ivf)
    graft.RunDecode.main(Array(pj.toString, in.toString,
      dir.resolve("out").toString))
    val lines = java.nio.file.Files.readAllLines(
      dir.resolve("out").resolve("frames.jsonl"))
    assert(lines.size == 2)
    val want = Vp8.decodeStream(Seq(key, p1), altFull)
    val luma0 = want(0).y.iterator.map(_.toLong).sum
    assert(lines.get(0).contains(s""""luma_sum":$luma0"""))
    assert(lines.get(0).contains(""""keyframe":true"""))
    assert(lines.get(1).contains(""""keyframe":false"""))
    val pgm = java.nio.file.Files.readAllBytes(
      dir.resolve("out").resolve("frame0.pgm"))
    assert(new String(pgm.take(3), "US-ASCII") == "P5\n")
    assert(pgm.length > 32 * 32, "PGM must carry the Y plane")
    // decoding the alt-profile stream under the STAND-IN profile must
    // not silently agree (the tables are load-bearing)
    val under = try {
      val d = Vp8.decodeStream(Seq(key, p1))
      d(0).y.iterator.map(_.toLong).sum != luma0
    } catch { case _: Throwable => true }
    assert(under, "stand-in decode of an alt-profile stream must differ")
    // dump-standin writes the editable template
    val tpl = dir.resolve("standin.json")
    graft.RunDecode.main(Array("dump-standin", tpl.toString))
    assert(Vp8ProfileJson.render(Vp8ProfileJson.parse(new String(
      java.nio.file.Files.readAllBytes(tpl), "UTF-8"))) == json)
    // the same stream in WEBM (the reference's daily artifact)
    // decodes through the Matroska path to identical sums
    import graft.sources.Mkv
    val webm = Mkv.mux(
      Seq(Mkv.MkvTrack(1, "video", "V_VP8", 32, 32)),
      Seq(Mkv.MkvBlock(1, 0L, keyframe = true, key),
        Mkv.MkvBlock(1, 33L, keyframe = false, p1)))
    val inW = dir.resolve("in.webm")
    java.nio.file.Files.write(inW, webm)
    graft.RunDecode.main(Array(pj.toString, inW.toString,
      dir.resolve("outw").toString))
    val wLines = java.nio.file.Files.readAllLines(
      dir.resolve("outw").resolve("frames.jsonl"))
    assert(wLines.get(0).contains(s""""luma_sum":$luma0"""),
      "the webm path must decode the same pixels")
  }

  test("reference-buffer lifecycle [§9.7]: refresh_golden/alternate " +
      "re-anchor to the refreshing frame, the conditional copy fields " +
      "move buffers (reading pre-update state), refresh_last = 0 " +
      "leaves LAST behind, and the machine matches decodeStream") {
    def gMb(v: Int) = interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)
      .copy(refGolden = true)
    def aMb(v: Int) = interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)
      .copy(refAltref = true)
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 0, Vector(
      zeroMb(Vp8.VPred, Vp8.DcPred, 40), zeroMb(Vp8.VPred, Vp8.DcPred, 80),
      zeroMb(Vp8.VPred, Vp8.DcPred, 16), zeroMb(Vp8.VPred, Vp8.DcPred, 24))))
    // frame 1: LAST chain + golden-ref MB1 (reads the keyframe),
    // refreshes GOLDEN afterward
    val p1 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      gMb(8), gMb(16), interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 24),
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 32)), refreshGolden = true))
    // frame 2: golden-ref MBs now read FRAME 1's pixels; copies
    // GOLDEN into ALTREF afterward; refresh_last = 0 — frame 3 must
    // predict from frame 1, not frame 2
    val p2 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      gMb(8), gMb(8), interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 8),
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 8)),
      refreshLast = false, copyToAlt = 2))
    // frame 3: altref MBs read the copied buffer (= frame 1), LAST
    // MBs read frame 1 (frame 2 did not refresh LAST)
    val p3 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      aMb(0), aMb(0), interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 0),
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), 0))))
    val st = Vp8.decodeStream(Seq(key, p1, p2, p3))
    def mbVal(f: Vp8.StreamFrame, mr: Int, mc: Int): Int =
      f.y((mr * 16) * 32 + mc * 16) // uniform per MB in this fixture
    val kf = st(0); val f1 = st(1); val f2 = st(2); val f3 = st(3)
    // frame 1's golden refs read the keyframe + their own residuals
    assert(mbVal(f1, 0, 0) == mbVal(kf, 0, 0) + 1) // r = (8+4)>>3
    assert(mbVal(f1, 0, 1) == mbVal(kf, 0, 1) + 2)
    // frame 2's golden refs read FRAME 1 (the refresh landed)
    assert(mbVal(f2, 0, 0) == mbVal(f1, 0, 0) + 1,
      "refresh_golden must re-anchor to frame 1")
    // frame 3: altref = the frame-2 copy of golden = frame 1
    assert(mbVal(f3, 0, 0) == mbVal(f1, 0, 0),
      "copy_buffer_to_alternate must hold frame 1")
    assert(mbVal(f3, 0, 1) == mbVal(f1, 0, 1))
    // frame 3's LAST MBs read frame 1 too (refresh_last = 0 at f2)
    assert(mbVal(f3, 1, 0) == mbVal(f1, 1, 0),
      "refresh_last = 0 must leave LAST at frame 1")
    // header fields round-trip (frame 2 decoded standalone)
    val d2 = Vp8.decodeInter(p2, 32, 32, f1.y, f1.u, f1.v,
      kf.y, kf.u, kf.v, altY = kf.y, altU = kf.u, altV = kf.v)
    assert(!d2.frame.refreshLast && d2.frame.copyToAlt == 2 &&
      !d2.frame.refreshGolden && d2.frame.copyToGolden == 0)
    // the streaming machine applies the same lifecycle
    import graft.streaming.{StateMachines, Vp8Machine}
    val hex = java.util.HexFormat.of()
    val m = new Vp8Machine.StreamDecoder
    var s = m.init
    Seq(key, p1, p2, p3).zipWithIndex.foreach { case (p, t) =>
      val (ns, outs) = m.step(s, StateMachines.Ev(0, t.toLong, 0.0,
        hex.formatHex(p), paused = false))
      s = ns
      val luma = st(t).y.iterator.map(_.toLong).sum
      assert(outs.head.value == luma.toDouble, s"machine frame $t")
    }
    // construction guards: copy fields require the refresh flag off
    intercept[IllegalArgumentException] {
      Vp8.InterFrame(0, Vector(interZero()), refreshGolden = true,
        copyToGolden = 1)
    }
    intercept[IllegalArgumentException] {
      Vp8.InterFrame(0, Vector(interZero()), copyToAlt = 3)
    }
  }

  test("reference-buffer lifecycle [§9.7]: BOTH copy fields in one " +
      "frame read the PRE-update buffers (parallel assignment) — " +
      "copy_to_golden=1 + copy_to_alternate=2 moves last→golden and " +
      "the OLD golden→altref, not the new one") {
    def gMb(v: Int) = interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)
      .copy(refGolden = true)
    def aMb(v: Int) = interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)
      .copy(refAltref = true)
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 0, Vector(
      zeroMb(Vp8.VPred, Vp8.DcPred, 40), zeroMb(Vp8.VPred, Vp8.DcPred, 80),
      zeroMb(Vp8.VPred, Vp8.DcPred, 16), zeroMb(Vp8.VPred, Vp8.DcPred, 24))))
    // frame 1 refreshes LAST only, so LAST (frame 1) and GOLDEN
    // (keyframe) now differ
    val p1 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector.fill(4)(
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 8))))
    // frame 2: copy_to_golden=1 (last → golden) AND copy_to_alt=2
    // (golden → alt). With parallel-assignment semantics alt gets
    // the KEYFRAME (the pre-update golden); the sequential bug would
    // hand it frame 1.
    val p2 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector.fill(4)(
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 0)),
      refreshLast = false, copyToGolden = 1, copyToAlt = 2))
    // frame 3: zero-residual golden-ref vs altref MBs expose both
    // buffers' contents directly
    val p3 = Vp8.encodeInter(32, 32, Vp8.InterFrame(0, Vector(
      gMb(0), gMb(0), aMb(0), aMb(0))))
    val st = Vp8.decodeStream(Seq(key, p1, p2, p3))
    def mbVal(f: Vp8.StreamFrame, mr: Int, mc: Int): Int =
      f.y((mr * 16) * 32 + mc * 16)
    val kf = st(0); val f1 = st(1); val f3 = st(3)
    assert(mbVal(f1, 0, 0) == mbVal(kf, 0, 0) + 1) // r = (8+4)>>3
    // golden = frame 1 (the copy of LAST)
    assert(mbVal(f3, 0, 0) == mbVal(f1, 0, 0),
      "copy_to_golden=1 must hand GOLDEN frame 1")
    assert(mbVal(f3, 0, 1) == mbVal(f1, 0, 1))
    // altref = the KEYFRAME — the pre-update golden, NOT frame 1
    assert(mbVal(f3, 1, 0) == mbVal(kf, 1, 0),
      "copy_to_alternate=2 must read the PRE-update golden")
    assert(mbVal(f3, 1, 1) == mbVal(kf, 1, 1))
    // the streaming machine agrees frame by frame
    import graft.streaming.{StateMachines, Vp8Machine}
    val hex = java.util.HexFormat.of()
    val m = new Vp8Machine.StreamDecoder
    var s = m.init
    Seq(key, p1, p2, p3).zipWithIndex.foreach { case (p, t) =>
      val (ns, outs) = m.step(s, StateMachines.Ev(0, t.toLong, 0.0,
        hex.formatHex(p), paused = false))
      s = ns
      val luma = st(t).y.iterator.map(_.toLong).sum
      assert(outs.head.value == luma.toDouble, s"machine frame $t")
    }
  }

  test("segment-map persistence [§9.3] + per-segment loop filter: " +
      "update_mb_segmentation_map = 0 frames reuse the remembered map " +
      "(quantizer routing proves it), a segment lf value re-bases that " +
      "segment's filter level, and a missing map is loud") {
    val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
    val cxD = new Vp8.Ctx(Vp8.Profile.StandIn)
    def segm(updateMap: Boolean, lf1: Int = 0) = Vp8.Segmentation(
      absMode = false, quant = Array(0, 20, 0, 0),
      mapProbs = Array(128, 128, 128), lf = Array(0, lf1, 0, 0),
      updateMap = updateMap)
    def kMb(v: Int, seg: Int) = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.MbCoding(Vp8.VPred, Vp8.DcPred, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), segment = seg)
    }
    def pMb(v: Int, seg: Int) = {
      val y2 = new Array[Int](16); y2(0) = v
      Vp8.InterMb(inter = true, Vp8.ZeroMv, Vp8.Mv(0, 0), 0, 0, y2,
        Array.fill(16)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)),
        Array.fill(4)(new Array[Int](16)), segment = seg)
    }
    // keyframe codes the map [0, 1]; the P-frame reuses it with NO
    // per-MB trees
    val key = Vp8.encode(Vp8.KeyFrame(16, 32, 0,
      Vector(kMb(40, 0), kMb(40, 1)),
      segmentation = Some(segm(updateMap = true))), ctx = cxE)
    val kd = Vp8.decode(key, ctx = cxD)
    assert(kd.frame.mbs.map(_.segment) == Vector(0, 1))
    // same level, different segments → different dequant (0 vs +20)
    assert(kd.y(0) == 127 + (40 + 4) / 8)
    assert(kd.y(16 * 16) == kd.y(0) + ((48 * 40 + 3) / 8 + 4) / 8)
    val p1 = Vp8.encodeInter(16, 32, Vp8.InterFrame(0,
      Vector(pMb(24, 0), pMb(24, 1)),
      segmentation = Some(segm(updateMap = false))), ctx = cxE)
    val d1 = Vp8.decodeInter(p1, 16, 32, kd.y, kd.u, kd.v, ctx = cxD)
    assert(d1.frame.segmentation.exists(!_.updateMap))
    assert(d1.frame.mbs.map(_.segment) == Vector(0, 1),
      "the map must persist across the no-update frame")
    assert(d1.y(0) == kd.y(0) + (24 + 4) / 8)
    assert(d1.y(16 * 16) == kd.y(16 * 16) + ((48 * 24 + 3) / 8 + 4) / 8)
    // per-segment loop filter: MB1's lf delta -18 zeroes its level, so
    // the single active MB edge at y = 16 (owned by MB1) is untouched
    // v = 16 keeps MB1's step d = 12 inside the level-18 mask
    def lfKey(lf1: Int) = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0,
      Vector(kMb(80, 0), kMb(16, 1)), filterLevel = 18,
      normalFilter = true,
      segmentation = Some(segm(updateMap = true, lf1 = lf1))),
      ctx = new Vp8.Ctx(Vp8.Profile.StandIn)))
    val plain = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0,
      Vector(kMb(80, 0), kMb(16, 1)),
      segmentation = Some(segm(updateMap = true)))))
    assert(lfKey(-18).y.sameElements(plain.y),
      "segment lf 18 - 18 = 0 disables MB1's edge")
    assert(!lfKey(0).y.sameElements(plain.y),
      "without the lf feature the edge filters")
    // a no-update frame without a remembered map is loud
    val ex = intercept[IllegalArgumentException] {
      Vp8.decodeInter(p1, 16, 32, kd.y, kd.u, kd.v)
    }
    assert(ex.getMessage.contains("remembered map"))
    intercept[IllegalArgumentException] {
      Vp8.Segmentation(absMode = false, Array(0, 0, 0, 0),
        Array(128, 128, 128), lf = Array(64, 0, 0, 0))
    }
    // update_segment_feature_data = 0: the features persist too —
    // the frame codes no mode/quant/lf fields, dequant routing still
    // works, and a fresh decoder without remembered features is loud
    val p2 = Vp8.encodeInter(16, 32, Vp8.InterFrame(0,
      Vector(pMb(32, 0), pMb(32, 1)),
      segmentation = Some(segm(updateMap = false)
        .copy(updateData = false))), ctx = cxE)
    val d2 = Vp8.decodeInter(p2, 16, 32, d1.y, d1.u, d1.v, ctx = cxD)
    assert(d2.frame.segmentation.exists(g =>
      !g.updateData && !g.updateMap && g.quant.toSeq == Seq(0, 20, 0, 0)))
    assert(d2.y(0) == d1.y(0) + (32 + 4) / 8)
    assert(d2.y(16 * 16) == d1.y(16 * 16) + ((48 * 32 + 3) / 8 + 4) / 8,
      "remembered features must route segment 1's dequant")
    val ex2 = intercept[IllegalArgumentException] {
      val fresh = new Vp8.Ctx(Vp8.Profile.StandIn)
      fresh.segMap = Array(0, 1) // map present, features absent
      Vp8.decodeInter(p2, 16, 32, d1.y, d1.u, d1.v, ctx = fresh)
    }
    assert(ex2.getMessage.contains("remembered"))
    // the remembered features ride the flat state-store form
    val back = Vp8.Ctx.fromFlat(Vp8.Profile.StandIn, Vp8.Ctx.toFlat(cxD))
    assert(back.segQuant.toSeq == Seq(0, 20, 0, 0) &&
      back.segLf.toSeq == Seq(0, 0, 0, 0) && !back.segAbs)
    assert(back.segMap.toSeq == Seq(0, 1))
  }

  test("B_PRED inside inter frames [§11.4/§16.2]: the intra-refresh " +
      "pattern — submodes ride the fixed non-kf table, type-3 tokens " +
      "with no Y2, interleaved reconstruction, and the region resets " +
      "independent of history") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    def bMb(v: Int) = Vp8.InterMb(inter = false, 0, Vp8.Mv(0, 0),
      Vp8.BPred, Vp8.DcPred, new Array[Int](16),
      Array.fill(16) { val a = new Array[Int](16); a(0) = v; a },
      Array.fill(4)(new Array[Int](16)),
      Array.fill(4)(new Array[Int](16)),
      bModes = Array.fill(16)(Vp8.BTm))
    val f = Vp8.InterFrame(0, Vector(
      interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 16), bMb(10),
      interZero(), interMb(Vp8.NewMv, Vp8.Mv(16, 0), y2dc = 3)))
    val d = Vp8.decodeInter(Vp8.encodeInter(32, 32, f), 32, 32,
      ref.y, ref.u, ref.v)
    val mb1 = d.frame.mbs(1)
    assert(!mb1.inter && mb1.yMode == Vp8.BPred &&
      mb1.bModes.forall(_ == Vp8.BTm))
    assert(mb1.y.forall(_.head == 10) && mb1.y2.forall(_ == 0))
    // the m41 telescoping closed form, anchored at the UNIFORM left
    // neighbor (TM cancels the uniform edges): block (by, bx) is flat
    // V0 + (by+1)(bx+1)·r where V0 is MB(0,0)'s uniform value and
    // r = (4v+4)>>3 — the current frame's recon, not the reference
    val v0 = d.y(0) // MB(0,0): ZEROMV chain value, uniform
    assert(v0 == ref.y(0) + (16 + 4) / 8)
    val r = (4 * 10 + 4) >> 3
    for (by <- 0 until 4; bx <- 0 until 4) {
      assert(d.y((by * 4) * 32 + 16 + bx * 4) ==
        v0 + (by + 1) * (bx + 1) * r, s"block ($by, $bx)")
    }
    // round trip survives a second frame whose B_PRED MB carries
    // different submodes (fixed-table coding, no context)
    val f2 = Vp8.InterFrame(0, Vector(interZero(),
      bMb(0).copy(bModes = Array.tabulate(16)(i => i % 10)),
      interZero(), interZero()))
    val d2 = Vp8.decodeInter(Vp8.encodeInter(32, 32, f2), 32, 32,
      d.y, d.u, d.v)
    assert(d2.frame.mbs(1).bModes.toSeq == (0 until 16).map(_ % 10))
    // malformed: submodes without B_PRED, B_PRED with a Y2 block
    intercept[IllegalArgumentException] {
      interZero().copy(bModes = Array.fill(16)(0))
    }
    intercept[IllegalArgumentException] {
      bMb(1).copy(y2 = { val a = new Array[Int](16); a(0) = 5; a })
    }
  }

  test("sign bias [§17.3]: survey candidates from neighbors whose " +
      "reference has the opposite bias are NEGATED — a LAST-referencing " +
      "NEARESTMV next to a biased-GOLDEN neighbor reads the flipped " +
      "displacement; the bias bits round-trip") {
    val ref = keyRef(Array(Array(9, 20), Array(67, 100)))
    def frame(bias: Boolean) = Vp8.InterFrame(0, Vector(
      interMb(Vp8.NewMv, Vp8.Mv(16, 8)).copy(refGolden = true),
      interMb(Vp8.NearestMv, Vp8.Mv(0, 0)),
      interZero(), interZero()), signBiasGolden = bias)
    def dec(bias: Boolean) = Vp8.decodeInter(
      Vp8.encodeInter(32, 32, frame(bias)), 32, 32,
      ref.y, ref.u, ref.v, ref.y, ref.u, ref.v)
    val dB = dec(bias = true)
    val dP = dec(bias = false)
    assert(dB.frame.signBiasGolden && !dP.frame.signBiasGolden)
    // with the bias set, MB1's NEAREST resolves to the NEGATED
    // neighbor MV (-16, -8); without it, to (16, 8)
    val wantFlip = new Array[Int](256)
    Vp8.mcPredict(ref.y, 32, 32, 16, 0, Vp8.Mv(-16, -8), 16, 16,
      wantFlip)
    val wantPlain = new Array[Int](256)
    Vp8.mcPredict(ref.y, 32, 32, 16, 0, Vp8.Mv(16, 8), 16, 16,
      wantPlain)
    def mb1(d: Vp8.DecodedInter): Array[Int] =
      Array.tabulate(256)(i => d.y((i / 16) * 32 + 16 + i % 16))
    assert(mb1(dB).sameElements(wantFlip),
      "biased survey must negate the golden neighbor's candidate")
    assert(mb1(dP).sameElements(wantPlain))
    assert(!wantFlip.sameElements(wantPlain),
      "the fixture must distinguish the two displacements")
    // MB0 itself (the biased-golden NEWMV) is unaffected: its own
    // reference defines the current bias on both sides symmetrically
    assert(dB.frame.mbs(0).mv == Vp8.Mv(16, 8))
  }

  test("display cropping [§9.1]: non-macroblock dimensions pad to the " +
      "coded grid, inter prediction rides the PADDED reference, and " +
      "decodeStream emits display-cropped planes (chroma ceil-halved)") {
    // 24x24 display → 32x32 coded (4 MBs)
    val mbs = (for (j <- 0 until 2; c <- 0 until 2)
      yield zeroMb(Vp8.VPred, Vp8.DcPred, y2dc = 8 * (j * 2 + c + 1)))
      .toVector
    val key = Vp8.encode(Vp8.KeyFrame(24, 24, 0, mbs))
    val kd = Vp8.decode(key)
    assert(kd.frame.width == 24 && kd.frame.height == 24)
    assert(kd.y.length == 32 * 32, "decoded planes are CODED (padded)")
    val p1 = Vp8.encodeInter(24, 24, Vp8.InterFrame(0,
      Vector.fill(4)(interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = 8))))
    val st = Vp8.decodeStream(Seq(key, p1))
    assert(st.forall(f => f.width == 24 && f.height == 24))
    assert(st(0).y.length == 24 * 24 && st(0).u.length == 12 * 12)
    // the cropped window equals the padded plane's top-left 24x24
    assert(st(0).y.sameElements(Vp8.crop(kd.y, 32, 24, 24)))
    (0 until 24).foreach { r =>
      (0 until 24).foreach { c =>
        assert(st(0).y(r * 24 + c) == kd.y(r * 32 + c), s"px ($r,$c)")
      }
    }
    // values: V_PRED column chains on the PADDED frame, P-frame adds
    // (8+4)>>3 = 1 everywhere
    val v00 = 127 + (8 + 4) / 8
    assert(st(0).y(0) == v00)
    assert(st(1).y(0) == v00 + 1)
    // the pad region feeds inter prediction: MB(0,1)'s columns 16..23
    // are display; 24..31 pad — both carry the same uniform chain, so
    // the cropped sum is the weighted region sum
    val vals = Array(
      kd.y(0), kd.y(16), kd.y(16 * 32), kd.y(16 * 32 + 16))
    val wantSum = 16 * 16 * vals(0) + 16 * 8 * vals(1) +
      8 * 16 * vals(2) + 8 * 8 * vals(3)
    assert(st(0).y.map(_.toLong).sum == wantSum.toLong)
    intercept[IllegalArgumentException] { Vp8.KeyFrame(0, 24, 0, mbs) }
    // a 24x24 frame still needs the full 4-MB padded grid
    intercept[IllegalArgumentException] {
      Vp8.KeyFrame(24, 24, 0, mbs.take(2))
    }
  }

  test("Ctx.toFlat/fromFlat round-trips the entropy + lf-delta state " +
      "for the state store") {
    val cx = new Vp8.Ctx(Vp8.Profile.StandIn)
    cx.entropy.coeff(2)(3)(1)(4) = 99
    cx.entropy.mv(1)(7) = 44
    cx.entropy.ymode(2) = 13
    cx.entropy.uvmode(0) = 201
    cx.lfDeltas(5) = -14
    val back = Vp8.Ctx.fromFlat(Vp8.Profile.StandIn, Vp8.Ctx.toFlat(cx))
    assert(back.entropy.coeff(2)(3)(1)(4) == 99)
    assert(back.entropy.mv(1)(7) == 44)
    assert(back.entropy.ymode(2) == 13 && back.entropy.uvmode(0) == 201)
    assert(back.lfDeltas(5) == -14)
    assert(back.entropy.coeff(0)(0)(0)(0) ==
      cx.entropy.coeff(0)(0)(0)(0))
    intercept[IllegalArgumentException] {
      Vp8.Ctx.fromFlat(Vp8.Profile.StandIn, new Array[Int](7))
    }
  }

  test("streaming crop parity [§9.1]: a NON-multiple-of-16 stream " +
      "(24x24 display, 32x32 coded) emits the same display-cropped " +
      "sums from Vp8Machine as decodeStream — the machine must crop " +
      "before summing, not sum the padded coded planes") {
    import graft.streaming.{StateMachines, Vp8Machine}
    def kMb(v: Int) = zeroMb(Vp8.VPred, Vp8.DcPred, v)
    def pMb(v: Int) = interMb(Vp8.ZeroMv, Vp8.Mv(0, 0), y2dc = v)
    val payloads = Vp8.encode(Vp8.KeyFrame(24, 24, 0, Vector(
      kMb(40), kMb(80), kMb(16), kMb(24)))) +:
      (1 until 4).map(t => Vp8.encodeInter(24, 24, Vp8.InterFrame(0,
        Vector(pMb(8 * t), pMb(4 * t), pMb(2 * t), pMb(6 * t)))))
    val st = Vp8.decodeStream(payloads)
    st.foreach { f =>
      assert(f.width == 24 && f.y.length == 24 * 24 &&
        f.u.length == 12 * 12, "display-cropped batch planes")
    }
    val hex = java.util.HexFormat.of()
    val m = new Vp8Machine.StreamDecoder
    var s = m.init
    payloads.zipWithIndex.foreach { case (p, t) =>
      val (ns, outs) = m.step(s, StateMachines.Ev(0, t.toLong, 0.0,
        hex.formatHex(p), paused = false))
      s = ns
      val luma = st(t).y.iterator.map(_.toLong).sum
      val chroma = st(t).u.iterator.map(_.toLong).sum +
        st(t).v.iterator.map(_.toLong).sum
      assert(outs.head.value == luma.toDouble,
        s"frame $t: machine luma must match the CROPPED batch sum")
      assert(outs.head.text.startsWith(s"$chroma,"),
        s"frame $t: machine chroma must match the CROPPED batch sum")
      // the padded coded plane has MORE pixels — the sums must differ
      // from the uncropped state the machine carries internally
      assert(ns.lastY.length == 32 * 32,
        "reference planes stay CODED-size in the state")
      assert(ns.lastY.iterator.map(_.toLong).sum != luma ||
        st(t).y.forall(_ == 0),
        s"frame $t: cropping must be observable")
    }
  }

  test("upscaling [§9.1]: the 2-bit scale codes ride the keyframe " +
      "header and name display ratios 5/4, 5/3, 2/1; reconstruction " +
      "stays at coded size; the display upscaler maps output pixels " +
      "back by floor(out·den/num)") {
    // ratio table + ceil display dims
    assert(Vp8.upscaleDim(32, 0) == 32 && Vp8.upscaleDim(32, 1) == 40)
    assert(Vp8.upscaleDim(32, 2) == 54 && Vp8.upscaleDim(32, 3) == 64)
    intercept[IllegalArgumentException] { Vp8.scaleRatio(4) }
    // scale codes round-trip through the uncompressed keyframe header
    val key = Vp8.encode(Vp8.KeyFrame(32, 32, 0, Vector(
      zeroMb(Vp8.VPred, Vp8.DcPred, 40), zeroMb(Vp8.VPred, Vp8.DcPred, 80),
      zeroMb(Vp8.VPred, Vp8.DcPred, 16), zeroMb(Vp8.VPred, Vp8.DcPred, 24)),
      widthScale = 1, heightScale = 3))
    val tag = graft.sources.Ivf.parseVp8Tag(key)
    assert(tag.width == 32 && tag.height == 32 &&
      tag.widthScale == 1 && tag.heightScale == 3)
    // decode accepts scaled streams; planes stay at the CODED dims
    val dec = Vp8.decode(key)
    assert(dec.frame.width == 32 && dec.y.length == 32 * 32)
    // 2/1 doubling: every source pixel appears exactly 4 times
    val up2 = Vp8.upscale(dec.y, 32, 32, 3, 3)
    assert(up2.length == 64 * 64)
    assert(up2.iterator.map(_.toLong).sum ==
      4 * dec.y.iterator.map(_.toLong).sum)
    assert(up2(0) == dec.y(0) && up2(1) == dec.y(0) &&
      up2(64) == dec.y(0) && up2(2) == dec.y(1))
    // 5/4: each run of 5 outputs covers sources [2,1,1,1]
    val src = Array.tabulate(32 * 32)(i => i % 32)
    val up54 = Vp8.upscale(src, 32, 32, 1, 0)
    assert(up54.length == 40 * 32)
    assert(up54.take(6).toSeq == Seq(0, 0, 1, 2, 3, 4))
  }

  test("Vp8.scala is the only src/main file that decodes an inter frame " +
      "or moves §9.7 reference buffers: every other stream walk goes " +
      "through Vp8.step") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), ISO_8859_1))
      .toSeq
    for (needle <- Seq("Vp8.decodeInter(", "copyToGolden")) {
      val hits = sources.collect { case (p, t) if t.contains(needle) => p }
      assert(hits.forall(_ == "scala/graft/functions/Vp8.scala"),
        s"$needle outside Vp8.scala: $hits")
    }
  }
}
