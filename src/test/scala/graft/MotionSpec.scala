package graft

import graft.functions.Motion._
import org.scalatest.funsuite.AnyFunSuite

/** Motion-compensation kernel pins (the inter-frame half of the video
  * codec family, media/codec.py:50-135's h264/vp8 territory): search
  * exactness vs a direct model, the raster tie-break, wrap
  * addressing, the closed lossy prediction loop (encode against the
  * RECONSTRUCTION, not the source — the property that stops drift),
  * and encoder/decoder reconstruction identity.
  */
class MotionSpec extends AnyFunSuite {

  private val W = 16
  private def rngFrame(seed: Int): Array[Int] =
    Array.tabulate(W * W) { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i".getBytes("UTF-8"))
      h(0) & 0xff
    }

  private def shift(f: Array[Int], dx: Int, dy: Int): Array[Int] =
    Array.tabulate(W * W) { i =>
      val (x, y) = (i % W, i / W)
      f((((y + dy) % W + W) % W) * W + (((x + dx) % W + W) % W)
      )
    }

  test("estimate recovers a pure global shift exactly (SAD 0)") {
    val ref = rngFrame(7)
    for (dx <- -3 to 3; dy <- -3 to 3) {
      val cur = shift(ref, dx, dy)
      val mvs = estimate(cur, ref, W, W, 8, 3)
      assert(mvs.forall(mv => mv.dx == dx && mv.dy == dy && mv.sad == 0L),
        s"shift ($dx,$dy): $mvs")
    }
  }

  test("estimate equals a direct brute-force model on noise frames, " +
      "including the (sad, dy, dx) tie-break") {
    val ref = rngFrame(1)
    val cur = rngFrame(2)
    val got = estimate(cur, ref, W, W, 8, 3)
    val want = for (by <- 0 until 2; bx <- 0 until 2) yield {
      val all = for (dy <- -3 to 3; dx <- -3 to 3)
        yield (sad(cur, ref, W, W, 8, bx, by, dx, dy), dy, dx)
      val (s, dy, dx) = all.min
      BlockMv(bx, by, dx, dy, s)
    }
    assert(got == want)
    // a constant frame ties EVERY candidate → raster rule picks (-3,-3)
    val flat = Array.fill(W * W)(9)
    assert(estimate(flat, flat, W, W, 8, 3)
      .forall(mv => mv.dx == -3 && mv.dy == -3 && mv.sad == 0L))
  }

  test("lossless loop (q=1): reconstruction equals the source and the " +
      "decoder mirrors the encoder bit-exactly") {
    var recon = rngFrame(3)
    for (t <- 1 to 4) {
      val cur = rngFrame(3 + t)
      val (pf, rec) = encodeP(cur, recon, W, W, 8, 3, q = 1)
      assert(rec.toSeq == cur.toSeq)
      assert(decodeP(pf, recon, W, W, 8).toSeq == rec.toSeq)
      recon = rec
    }
  }

  test("quantized loop (q=8): encoder predicts from its own RECON (no " +
      "drift vs an independent decoder); error bounded by q-1 per pixel") {
    val frames = (0 to 5).map(rngFrame)
    var encRef = frames(0)
    var decRef = frames(0)
    for (t <- 1 to 5) {
      val (pf, rec) = encodeP(frames(t), encRef, W, W, 8, 3, q = 8)
      val dec = decodeP(pf, decRef, W, W, 8)
      assert(dec.toSeq == rec.toSeq) // decoder tracks the closed loop
      // the loop bounds per-frame error by the quantizer step — the
      // no-drift property open-loop residuals would violate
      frames(t).zip(dec).foreach { case (a, b) =>
        assert(math.abs(a - b) < 8, s"t=$t: |$a-$b| >= 8")
      }
      encRef = rec; decRef = dec
    }
  }

  test("quant truncates toward zero symmetrically") {
    assert(quant(7, 4) == 4 && quant(-7, 4) == -4)
    assert(quant(8, 4) == 8 && quant(-8, 4) == -8)
    assert(quant(3, 4) == 0 && quant(-3, 4) == 0)
  }
}
