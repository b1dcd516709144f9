package graft

import graft.streaming.StatefulRunner.KEv

/** Shared per-key event tapes for the machine-catalog specs. The
  * general tape deliberately contains the awkward cases: equal-ts
  * control/data ties, out-of-ts-order arrivals (late for the
  * synchronizer), NaN (invalid) control values, null texts, pause and
  * resume markers, and all four topics of the switch family. */
object MachineTapes {

  def tapeFor(key: String): Seq[KEv] = Seq(
    KEv(key, 0, 10, 1.0, "t0;", paused = false, seq = 0),
    KEv(key, 1, 10, 1.0, null, paused = false, seq = 1), // tie: ctrl+data
    KEv(key, 0, 20, 2.0, "k", paused = false, seq = 2), // keyframe text
    KEv(key, 1, 30, 0.0, null, paused = false, seq = 3),
    KEv(key, 0, 30, 3.0, "t4;", paused = false, seq = 4), // tie again
    KEv(key, 2, 40, 4.0, "t5;", paused = false, seq = 5),
    KEv(key, 3, 50, 1.0, null, paused = false, seq = 6),
    KEv(key, 2, 60, 5.0, "k", paused = false, seq = 7),
    KEv(key, 0, 55, 6.0, "t8;", paused = false, seq = 8), // ts runs backward
    KEv(key, 1, 70, Double.NaN, null, paused = false, seq = 9), // invalid ctrl
    KEv(key, 0, 80, 7.0, null, paused = false, seq = 10), // null text
    KEv(key, 1, 85, 1.0, null, paused = true, seq = 11), // pause marker
    KEv(key, 0, 90, 8.0, "t12;", paused = false, seq = 12),
    KEv(key, 1, 95, 0.0, null, paused = true, seq = 13), // resume marker
    KEv(key, 0, 100, 9.0, "t14;", paused = false, seq = 14))

  /** Hex-frame tape for the video machines (the shared tape's texts
    * are not valid frames — here invalid payloads appear on purpose
    * to pin the skip rule through both mounts). */
  def frameTape(key: String): Seq[KEv] = Seq(
    KEv(key, 0, 10, Double.NaN, "ffff0000", paused = false, seq = 0),
    KEv(key, 1, 12, Double.NaN, "ff0000ff", paused = false, seq = 1),
    KEv(key, 0, 20, Double.NaN, "t0;", paused = false, seq = 2), // invalid
    KEv(key, 0, 30, Double.NaN, "ff00ff00", paused = false, seq = 3),
    KEv(key, 1, 35, 1.0, null, paused = true, seq = 4),
    KEv(key, 0, 40, Double.NaN, "00112233", paused = false, seq = 5),
    KEv(key, 1, 45, 0.0, null, paused = true, seq = 6),
    KEv(key, 1, 50, Double.NaN, "a0b1c2d3", paused = false, seq = 7),
    KEv(key, 0, 60, Double.NaN, "00112233", paused = false, seq = 8),
    KEv(key, 0, 70, Double.NaN, "0011ff33", paused = false, seq = 9))

  def packetTape(key: String): Seq[KEv] = Seq(
    KEv(key, 0, 10, Double.NaN, "k|00112233", paused = false, seq = 0),
    KEv(key, 0, 20, Double.NaN, "p|000100ff", paused = false, seq = 1),
    KEv(key, 0, 30, Double.NaN, "zz", paused = false, seq = 2), // invalid
    KEv(key, 0, 40, Double.NaN, "k|a0b1c2d3", paused = false, seq = 3),
    KEv(key, 0, 50, 1.0, null, paused = true, seq = 4),
    KEv(key, 0, 60, Double.NaN, "p|01020304", paused = false, seq = 5))

  def asrTape(key: String): Seq[KEv] = {
    val xs = (0 until 20).map(i =>
      KEv(key, 0, i.toLong, (i * 37 % 200 - 80).toDouble, null,
        paused = false, seq = i.toLong))
    xs.take(11) ++ Seq(KEv(key, 0, 11, 1.0, null, paused = true,
      seq = 100)) ++ xs.drop(11).map(e => e.copy(seq = e.seq + 200))
  }
}
