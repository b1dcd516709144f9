package graft

import graft.functions.{AudioKernel, Codec}
import org.scalatest.funsuite.AnyFunSuite

/** G.711 μ-law codec and resampler kernels pinned to the exact integer
  * formulations that DspQueries p07/p08 run on both engines — so a
  * green oracle on those queries certifies the kernels too. */
class CodecSpec extends AnyFunSuite with SparkFixture {

  /** The p07 oracle formulation, in plain Scala. */
  private def encFormula(x: Int): Int = {
    val sgn = if (x < 0) 128 else 0
    val ax = math.min(math.abs(x), 32635) + 132
    val ex =
      if (ax < 256) 0 else if (ax < 512) 1 else if (ax < 1024) 2
      else if (ax < 2048) 3 else if (ax < 4096) 4 else if (ax < 8192) 5
      else if (ax < 16384) 6 else 7
    255 - (sgn + ex * 16 + (ax / (8 * (1 << ex))) % 16)
  }

  private def decFormula(b: Int): Int = {
    val y = 255 - b
    val de = (y / 16) % 8
    val mag = ((y % 16) * 8 + 132) * (1 << de) - 132
    if (y >= 128) -mag else mag
  }

  test("mu-law kernel == p07 oracle formulation over the full 16-bit " +
      "domain") {
    (-32768 to 32767).foreach { x =>
      assert(Codec.MuLaw.encodeSample(x) == encFormula(x), s"enc($x)")
    }
    (0 to 255).foreach { b =>
      assert(Codec.MuLaw.decodeSample(b) == decFormula(b), s"dec($b)")
    }
  }

  test("mu-law round trip: quantization error bounded by the segment " +
      "step; idempotent up to the negative-zero code (G.711)") {
    (-32768 to 32767).foreach { x =>
      val d = Codec.MuLaw.decodeSample(Codec.MuLaw.encodeSample(x))
      val e = Codec.MuLaw.encodeSample(x)
      val step = 1 << (((255 - e) / 16) % 8 + 3)
      val clipped = math.max(-32635, math.min(32635, x))
      assert(math.abs(d - clipped) <= step, s"error at $x")
      // re-encoding is stable except 0x7F (negative zero) → 0xFF
      val e2 = Codec.MuLaw.encodeSample(d)
      assert(e2 == e || (e == 0x7f && e2 == 0xff), s"idempotence at $x")
    }
    assert(Codec.MuLaw.encodeSample(0) == 0xff)
    assert(Codec.MuLaw.encodeSample(-1) == 0x7f)
  }

  test("mu-law s16le frame round trip through the byte-array interface") {
    val samples = Array[Short](0, 1, -1, 100, -100, 32767, -32768, 12345)
    val raw = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      raw(2 * i) = (s & 0xff).toByte
      raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val enc = Codec.MuLaw.encode(raw)
    assert(enc.length == samples.length) // 2:1 compression
    val dec = Codec.MuLaw.decode(enc)
    assert(dec.length == raw.length)
    samples.indices.foreach { i =>
      val got = (((dec(2 * i + 1) << 8) | (dec(2 * i) & 0xff)).toShort).toInt
      assert(got == Codec.MuLaw.decodeSample(Codec.MuLaw.encodeSample(samples(i))))
    }
  }

  test("mergeImages == the m05 blend formula per channel (RGBA, two " +
      "layers over black)") {
    val rnd = new scala.util.Random(11)
    val n = 64
    def frame(s: Array[Int], a: Array[Int]): Array[Byte] = {
      val f = new Array[Byte](n * 4)
      (0 until n).foreach { i =>
        f(4 * i) = s(i).toByte; f(4 * i + 1) = s(i).toByte
        f(4 * i + 2) = s(i).toByte; f(4 * i + 3) = a(i).toByte
      }
      f
    }
    val (sA, aA) = (Array.fill(n)(rnd.nextInt(256)), Array.fill(n)(rnd.nextInt(256)))
    val (sB, aB) = (Array.fill(n)(rnd.nextInt(256)), Array.fill(n)(rnd.nextInt(256)))
    val out = graft.functions.ImageKernel.mergeImages(
      Seq(frame(sA, aA), frame(sB, aB)), alphaFront = false)
    (0 until n).foreach { i =>
      val cur1 = aA(i) * sA(i) / 255
      val want = ((255 - aB(i)) * cur1 + aB(i) * sB(i)) / 255
      assert((out(4 * i) & 0xff) == want, s"pixel $i")
      assert((out(4 * i + 3) & 0xff) == 255) // output alpha forced
    }
  }

  test("layout == the m06 placement formula (8x6 -> 12x9 at (2,3) on " +
      "20x15)") {
    val rnd = new scala.util.Random(13)
    val (inW, inH, pW, pH, top, left, outW, outH) = (8, 6, 12, 9, 2, 3, 20, 15)
    val vals = Array.fill(inW * inH)(rnd.nextInt(256))
    val frame = new Array[Byte](inW * inH * 4)
    vals.zipWithIndex.foreach { case (v, i) => frame(4 * i) = v.toByte }
    val out = graft.functions.ImageKernel.layout(frame, inW, inH,
      pW, pH, top, left, outW, outH)
    for (y <- 0 until pH; x <- 0 until pW) {
      val want = vals((y * inH / pH) * inW + (x * inW / pW))
      assert((out(((top + y) * outW + (left + x)) * 4) & 0xff) == want,
        s"cell ($y,$x)")
    }
  }

  test("Delta codec: GOP round trip is lossless on random frames, and " +
      "the per-byte P-frame math == the m09 stored/recon formulas") {
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(8)
      val len = 1 + rnd.nextInt(64)
      val frames = Seq.fill(n)(Array.fill(len)(rnd.nextInt(256).toByte))
      val packets = Codec.Delta.encodeGop(frames)
      assert(packets.length == n)
      // keyframe stored raw
      assert(packets.head.toSeq == frames.head.toSeq)
      // P-frame bytes == ((v - prev) % 256 + 256) % 256 (m09 stored)
      packets.tail.zipWithIndex.foreach { case (p, i) =>
        p.toSeq.zipWithIndex.foreach { case (b, j) =>
          val v = frames(i + 1)(j) & 0xff
          val prev = frames(i)(j) & 0xff
          assert((b & 0xff) == ((v - prev) % 256 + 256) % 256,
            s"stored byte mismatch frame ${i + 1} pos $j")
        }
      }
      // decode folds deltas from the keyframe back to the source (m09
      // recon == v)
      val decoded = Codec.Delta.decodeGop(packets)
      assert(decoded.map(_.toSeq) == frames.map(_.toSeq))
    }
    assert(Codec.Delta.encodeGop(Seq.empty).isEmpty)
    assert(Codec.Delta.decodeGop(Seq.empty).isEmpty)
  }

  test("PNG codec through the m03 mapPartitions mount: a real JVM " +
      "codec behind the Codec seam round-trips rgb24 bit-exactly " +
      "(test_audio_codec.py:10-28's round-trip property)") {
    import spark.implicits._
    val (w, h) = (24, 16)
    // deterministic frames: LCG bytes (noise, worst case for DEFLATE)
    // plus a gradient frame (best case — must actually compress)
    def lcgFrame(seed: Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3)
      var x = seed
      var i = 0
      while (i < a.length) {
        x = x * 1103515245 + 12345; a(i) = (x >> 16).toByte; i += 1
      }
      a
    }
    val flat = Array.fill(w * h * 3)(77.toByte)
    val frames = ((0 until 8).map(i => (i.toLong, lcgFrame(i + 1))) :+
      (8L, flat)).toSeq
    val codec = Codec.Png(w, h)
    // the m03 mount shape: one codec instance per partition, rows
    // stream through it
    val out = frames.toDF("frame_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, raw) =>
          val packet = codec.encode(raw)
          (id, packet, codec.decode(packet))
        }
      }
      .collect()
      .sortBy(_._1)
    assert(out.length == frames.length)
    out.foreach { case (id, packet, rt) =>
      // real PNG packets: magic signature, not a passthrough
      assert(packet.take(4).toSeq ==
        Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),
        s"frame $id: not a PNG packet")
      val orig = frames(id.toInt)._2
      assert(java.util.Arrays.equals(rt, orig),
        s"frame $id: PNG round trip not bit-exact")
    }
    // lossless CODEC, not an echo: a flat frame must compress
    val flatPacket = out.last._2
    assert(flatPacket.length < flat.length / 2,
      s"flat frame should compress (got ${flatPacket.length}B " +
        s"for ${flat.length}B raw)")
  }

  // --- Spectral round-trip in the reference's own test shape ---------
  // tests/media/test_audio_codec.py:10-16 (inverse transcoder) and
  // :24-28 (transcode with resample): generate the 69+111+420 Hz
  // three-tone track, push it through a LOSSY codec, and assert the
  // spectral peak positions survive within the reference's similarity
  // budget (< 35 summed bin distance). Helpers mirror tests/media/
  // __init__.py: get_spectrum (binned |rfft| normalized to sum 1) and
  // get_freq_similarity (smoothed peak extraction, summed |Δbin|).

  /** generate_audio_track: sin(420)+sin(69)+sin(111), ×10000, s16. */
  private def threeToneS16(rate: Int, n: Int): Array[Short] =
    Array.tabulate(n) { i =>
      val t = 2.0 * math.Pi * i / rate
      ((math.sin(t * 420) + math.sin(t * 69) + math.sin(t * 111))
        * 10000).toShort
    }

  /** get_spectrum: |rfft| summed into rate/2 bins, normalized. */
  private def spectrum(samples: Array[Double], rate: Int): Array[Double] = {
    val raw = graft.functions.Fft.magnitudes(samples)
    val bins = rate / 2
    val sumSize = raw.length.toDouble / bins
    val spec = Array.tabulate(bins) { b =>
      val lo = (b * sumSize).toInt
      val hi = math.min(raw.length, (b * sumSize + sumSize).toInt)
      var s = 0.0; var k = lo
      while (k < hi) { s += raw(k); k += 1 }
      s
    }
    val total = spec.sum
    spec.map(_ / total)
  }

  /** get_freq_peeks: 5× smoothing with the 11-tap [1…2…1]/12 kernel,
    * zero below max/4, then the double falling-edge peak pick. */
  private def freqPeaks(spec0: Array[Double]): Seq[Int] = {
    var spec = spec0
    val kernel = Array.fill(11)(1.0); kernel(5) = 2.0
    val ksum = kernel.sum
    for (_ <- 0 until 5) {
      val prev = spec
      spec = Array.tabulate(prev.length) { i =>
        var s = 0.0; var k = 0
        while (k < 11) {
          val j = i + k - 5
          if (j >= 0 && j < prev.length) s += prev(j) * kernel(k)
          k += 1
        }
        s / ksum
      }
    }
    val mx = spec.max
    val th = spec.map(v => if (v < mx / 4) 0.0 else v)
    val falling = th.init.zip(th.tail).map { case (a, b) => a > b }
    falling.init.zip(falling.tail).zipWithIndex
      .collect { case ((f, g), i) if f && !g => i }
      .toSeq
  }

  /** get_freq_similarity: summed |Δ| over aligned sorted peak bins. */
  private def freqSimilarity(a: Array[Double], b: Array[Double]): Int = {
    val (pa, pb) = (freqPeaks(a).sorted, freqPeaks(b).sorted)
    assert(pa.nonEmpty && pb.nonEmpty, "no frequency peeks found")
    val size = math.min(pa.size, pb.size)
    pa.take(size).zip(pb.take(size)).map { case (x, y) => math.abs(x - y) }.sum
  }

  private def s16leBytes(xs: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](xs.length * 2)
    var i = 0
    while (i < xs.length) {
      out(2 * i) = (xs(i) & 0xff).toByte
      out(2 * i + 1) = ((xs(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  private def s16leDoubles(bs: Array[Byte]): Array[Double] =
    Array.tabulate(bs.length / 2)(i =>
      ((bs(2 * i + 1) << 8) | (bs(2 * i) & 0xff)).toShort.toDouble)

  test("IMA ADPCM: sine round trip SNR >= 25 dB at 4x compression; " +
      "byte framing survives odd sample counts") {
    val n = 4001 // odd on purpose: the nibble packer pads the last byte
    val xs = Array.tabulate(n)(i =>
      (12000 * math.sin(2 * math.Pi * i / 64)).toInt)
    val raw = new Array[Byte](2 * n)
    xs.indices.foreach { i =>
      raw(2 * i) = (xs(i) & 0xff).toByte
      raw(2 * i + 1) = ((xs(i) >> 8) & 0xff).toByte
    }
    val packet = Codec.ImaAdpcm.encode(raw)
    assert(packet.length == 4 + (n + 1) / 2, "4 bits/sample + count header")
    val back = Codec.ImaAdpcm.decode(packet)
    assert(back.length == raw.length)
    val dec = Array.tabulate(n)(i =>
      (((back(2 * i + 1) << 8) | (back(2 * i) & 0xff)).toShort).toInt)
    val sigPow = xs.map(x => x.toDouble * x).sum
    val errPow = xs.indices.map { i =>
      val e = (xs(i) - dec(i)).toDouble; e * e }.sum
    val snr = 10 * math.log10(sigPow / errPow)
    assert(snr >= 25, f"ADPCM sine SNR $snr%.1f dB under bound")
    // determinism (the p10 oracle depends on it)
    assert(java.util.Arrays.equals(packet, Codec.ImaAdpcm.encode(raw)))
  }

  test("IMA ADPCM known-answer: first decoded samples of a step input " +
      "match the standard step-table walk") {
    // decode(encode([1000,1000,...])) must climb toward 1000 along the
    // IMA step sizes from index 0 — pinned literals guard the tables,
    // clamps and bit order against silent edits (the p10 oracle would
    // also catch drift, but only at Verify time).
    val xs = Array.fill(8)(1000)
    val dec = Codec.ImaAdpcm.decodeSamples(
      Codec.ImaAdpcm.encodeSamples(xs), xs.length)
    // hand-checked: step0=7 → vpdiff 7+3+1=11; step1=16 (idx 0+8) →
    // 11 + (2+16+8+4)=41; then 104, 240, 533, 996 as the step grows,
    // overshoot 1057, settle 1001.
    assert(dec.toSeq == Seq(11, 41, 104, 240, 533, 996, 1057, 1001),
      s"step-table walk drifted: ${dec.toSeq}")
  }

  test("JPEG codec: real lossy round trip — PSNR >= 30 dB on the m14 " +
      "frame family, deterministic bytes, genuine compression") {
    val W = 16
    val codec = Codec.Jpeg(W, W, 0.75f)
    (0L until 8L).foreach { fid =>
      val raw = new Array[Byte](W * W * 3)
      var i = 0
      for (y <- 0 until W; x <- 0 until W) {
        val v = (((x / 8 + 2 * (y / 8)).toLong + fid) * 37 % 200 + 28).toByte
        raw(i) = v; raw(i + 1) = v; raw(i + 2) = v; i += 3
      }
      val packet = codec.encode(raw)
      val dec = codec.decode(packet)
      assert(dec.length == raw.length)
      val mse = raw.indices.map { j =>
        val d = (raw(j) & 0xff) - (dec(j) & 0xff); d.toDouble * d
      }.sum / raw.length
      val psnr = if (mse == 0) 99.0 else 10 * math.log10(255.0 * 255.0 / mse)
      assert(psnr >= 30, f"frame $fid PSNR $psnr%.1f dB under bound")
      assert(packet.length < raw.length, "JPEG must actually compress")
      assert(java.util.Arrays.equals(packet, codec.encode(raw)),
        "fixed-quality encode must be deterministic")
    }
    // and it IS lossy somewhere in the family (not a disguised identity)
    val noisy = Array.tabulate(W * W * 3)(i => ((i * 2654435761L) % 256).toByte)
    val round = codec.decode(codec.encode(noisy))
    assert(!java.util.Arrays.equals(noisy, round),
      "a lossy codec cannot be bit-exact on noise")
  }

  test("audio codec TRANSCODE MATRIX: every ordered pair of the four " +
      "lossy codec families carries the three-tone spectrum " +
      "(test_audio_codec.py:10-28's matrix over this codec set)") {
    val rate = 32000
    val pcm = s16leBytes(threeToneS16(rate, 8192))
    val codecs: Seq[(String, Array[Byte] => Array[Byte])] = Seq(
      "mulaw" -> (b => Codec.MuLaw.decode(Codec.MuLaw.encode(b))),
      "adpcm" -> (b => Codec.ImaAdpcm.decode(Codec.ImaAdpcm.encode(b))),
      "mdct" -> { b =>
        val c = Codec.Mdct()
        c.decode(c.encode(b))
      },
      "gac" -> { b =>
        val c = graft.functions.Gac()
        c.decode(c.encode(b))
      })
    val ref = spectrum(s16leDoubles(pcm), rate)
    for ((na, fa) <- codecs; (nb, fb) <- codecs) {
      val out = fb(fa(pcm))
      // transcoding may change length (MDCT frames); spectrum handles it
      val sim = freqSimilarity(ref, spectrum(s16leDoubles(out), rate))
      assert(sim < 35, s"$na->$nb spectral similarity $sim >= 35")
    }
  }

  test("mu-law inverse transcoder: three-tone spectrum survives the " +
      "lossy round trip (test_audio_codec.py:10-16 shape)") {
    val rate = 16384 // power of 2: rate==n makes spectrum bins = Hz
    val in = threeToneS16(rate, rate)
    val packets = Codec.MuLaw.encode(s16leBytes(in))
    assert(packets.length == in.length, "mu-law is 1 byte per sample")
    val out = s16leDoubles(Codec.MuLaw.decode(packets))
    val sim = freqSimilarity(
      spectrum(in.map(_.toDouble), rate), spectrum(out, rate))
    assert(sim < 35, s"spectral similarity $sim >= 35 after round trip")
  }

  test("mu-law + resampler transcode: peaks survive a rate change " +
      "(test_audio_codec.py:24-28 shape)") {
    val rate1 = 16384
    val rate2 = 8192
    val in = threeToneS16(rate1, rate1)
    val decoded = s16leDoubles(
      Codec.MuLaw.decode(Codec.MuLaw.encode(s16leBytes(in))))
    val resampled = AudioKernel.resample(decoded, rate1, rate2)
    assert(resampled.length == rate2,
      s"resampling not working: ${resampled.length} samples for 1s at $rate2")
    val sim = freqSimilarity(
      spectrum(in.map(_.toDouble), rate1), spectrum(resampled, rate2))
    assert(sim < 35, s"spectral similarity $sim >= 35 after transcode")
  }

  test("stretchLinear == the p08 grid formula on random arrays") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { _ =>
      val n = 2 + rnd.nextInt(50)
      val xs = Array.fill(n)(rnd.nextInt(2000).toDouble - 1000)
      val m = math.max(2, n * 2 / 3)
      val got = AudioKernel.stretchLinear(xs, m)
      val want = Array.tabulate(m) { j =>
        val pos = j.toDouble * (n - 1) / (m - 1)
        val i0 = math.min(n - 2, math.floor(pos).toLong).toInt
        val frac = pos - i0
        xs(i0) * (1.0 - frac) + xs(i0 + 1) * frac
      }
      assert(got.toSeq == want.toSeq)
    }
  }

  // ---------------------------------------------------------------- MDCT
  private def s16le(xs: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](xs.length * 2)
    var i = 0
    while (i < xs.length) {
      out(2 * i) = (xs(i) & 0xff).toByte
      out(2 * i + 1) = ((xs(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  private def fromS16le(raw: Array[Byte]): Array[Int] =
    Array.tabulate(raw.length / 2)(i =>
      ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort.toInt)

  test("MDCT TDAC: sine-window analysis + synthesis overlap-add " +
      "reconstructs EXACTLY absent quantization (Princen-Bradley)") {
    val c = Codec.Mdct(frameN = 32)
    val rnd = new scala.util.Random(7)
    val n = 32; val n2 = 64
    // random signal over 4 lapped blocks; interior samples are covered
    // by exactly two blocks whose windowed contributions must sum back
    val x = Array.fill(5 * n)(rnd.nextDouble() * 2 - 1)
    val recon = new Array[Double](5 * n + n)
    var b = 0
    while (b * n + n2 <= x.length) {
      val block = java.util.Arrays.copyOfRange(x, b * n, b * n + n2)
      val inv = c.inverse(c.forward(block))
      var j = 0
      while (j < n2) { recon(b * n + j) += inv(j); j += 1 }
      b += 1
    }
    // fully-covered interior: [n, (b-1)*n + n) after the last block
    var i = n
    while (i < (b - 1) * n) {
      assert(math.abs(recon(i) - x(i)) < 1e-9,
        s"TDAC broke at $i: ${recon(i)} vs ${x(i)}")
      i += 1
    }
  }

  test("MDCT codec: multi-tone round trip SNR >= 25 dB at ~2:1 bytes; " +
      "lossy (non-identity) and bit-deterministic") {
    val c = Codec.Mdct()
    val n = 1024
    val xs = Array.tabulate(n)(i =>
      (9000 * math.sin(2 * math.Pi * 5 * i / 256.0) +
        6000 * math.sin(2 * math.Pi * 9 * i / 128.0)).toInt)
    val raw = s16le(xs)
    val packet = c.encode(raw)
    // structural size: [n][blocks] + blocks * (scale + N coeffs)
    assert(packet.length == 8 + (n / 128 + 1) * 129)
    assert(packet.length * 2 < raw.length + 300, "not ~2:1")
    val dec = fromS16le(c.decode(packet))
    var sig = 0.0; var err = 0.0
    var i = 0
    while (i < n) {
      sig += xs(i).toDouble * xs(i)
      val d = xs(i).toDouble - dec(i)
      err += d * d; i += 1
    }
    val snr = 10.0 * math.log10(sig / err)
    assert(snr >= 25.0, s"SNR $snr")
    assert(!dec.sameElements(xs), "quantizer never engaged — not lossy")
    assert(c.encode(raw).sameElements(packet), "encode not deterministic")
  }

  test("MDCT codec: silence round-trips to silence and a full-scale " +
      "step stays within int16 (clip path)") {
    val c = Codec.Mdct()
    val silent = s16le(new Array[Int](512))
    assert(fromS16le(c.decode(c.encode(silent))).forall(_ == 0))
    val loud = s16le(Array.fill(512)(32767))
    val dec = fromS16le(c.decode(c.encode(loud)))
    assert(dec.forall(v => v >= -32768 && v <= 32767))
    // interior of a constant (DC) signal survives within the
    // quantizer's coarse-scale error (edges ring by construction)
    val interior = dec.slice(128, 384)
    assert(interior.forall(v => math.abs(v - 32767) < 3300),
      s"DC interior drifted: ${interior.min}..${interior.max}")
  }

  // ---- GAC: the composed AAC/Opus-shaped audio bitstream (p14) ------------

  test("GAC round trip: multi-tone SNR >= 25 dB, the Rice-coded stream " +
      "undercuts the fixed int8 layout, and per-band scalefactors beat " +
      "the whole-block scale on mixed-level content") {
    val c = graft.functions.Gac()
    val n = 2048
    val in = Array.tabulate(n) { i =>
      // loud low tone + quiet high tone: the per-band quantizer must
      // keep the quiet band's precision
      (12000 * math.sin(2 * math.Pi * 5 * i / 256.0) +
        400 * math.sin(2 * math.Pi * 55 * i / 128.0)).toInt.toShort
    }
    val raw = s16leBytes(in)
    val packet = c.encode(raw)
    val dec = s16leDoubles(c.decode(packet))
    var sig = 0.0; var err = 0.0
    in.indices.foreach { i =>
      sig += in(i).toDouble * in(i)
      err += (in(i) - dec(i)) * (in(i) - dec(i))
    }
    val snr = 10.0 * math.log10(sig / err)
    assert(snr >= 25.0, s"GAC SNR $snr dB")
    val blocks = n / 128 + 1
    assert(packet.length < 8 + blocks * 129,
      s"GAC ${packet.length}B did not undercut the fixed layout")
    // per-band vs whole-block: the mdct codec's single scale flattens
    // the quiet tone; GAC must reconstruct it with lower total error
    val md = Codec.Mdct()
    val mdec = s16leDoubles(md.decode(md.encode(raw)))
    var mErr = 0.0
    in.indices.foreach(i => mErr += (in(i) - mdec(i)) * (in(i) - mdec(i)))
    assert(err <= mErr,
      s"per-band error $err worse than whole-block $mErr")
  }

  test("GAC frames are ADTS-shaped and corruption is rejected: sync " +
      "bytes present per frame, a flipped body bit fails the CRC-16, " +
      "a broken sync fails resynchronization") {
    val c = graft.functions.Gac()
    val raw = s16leBytes(threeToneS16(32000, 1024))
    val packet = c.encode(raw)
    assert(new String(packet.take(4), "US-ASCII") == "GACS")
    // first frame header directly after the 13-byte stream header
    // (12 header bytes + their CRC-8)
    assert((packet(13) & 0xff) == 0xFF && (packet(14) & 0xff) == 0xF0)
    val bodyFlip = packet.clone()
    bodyFlip(21) = (bodyFlip(21) ^ 0x10).toByte
    val ex = intercept[IllegalArgumentException] { c.decode(bodyFlip) }
    assert(ex.getMessage.contains("CRC"))
    val syncFlip = packet.clone()
    syncFlip(13) = 0x7F
    val ex2 = intercept[IllegalArgumentException] { c.decode(syncFlip) }
    assert(ex2.getMessage.contains("sync"))
  }

  test("GAC single-bit corruption sweep: NO flip anywhere in the " +
      "packet is silent (header CRC-8, per-frame CRC-16, sync tags, " +
      "length/index checks together cover every bit)") {
    val c = graft.functions.Gac()
    val raw = s16leBytes(threeToneS16(32000, 256))
    val packet = c.encode(raw)
    val clean = c.decode(packet)
    var silent = List.empty[Int]
    var i = 0
    while (i < packet.length * 8) {
      val bad = packet.clone()
      bad(i / 8) = (bad(i / 8) ^ (1 << (i % 8))).toByte
      try {
        val out = c.decode(bad)
        if (!java.util.Arrays.equals(out, clean)) silent ::= i
      } catch { case _: IllegalArgumentException => () }
      i += 1
    }
    assert(silent.isEmpty,
      s"${silent.size} bit flips decoded to DIFFERENT audio without " +
        s"an error (bit positions ${silent.take(8).reverse})")
  }

  // ---- GVC: the composed I/P coded-video bitstream (m36) ------------------

  private def gvcFrames(seed: Int, n: Int, w: Int, h: Int): Seq[Array[Int]] = {
    val r = new scala.util.Random(seed)
    // moving gradient + noise: exercises both prediction paths
    (0 until n).map { t =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((x * 3 + y * 5 + t * 7) % 256 + r.nextInt(9) - 4 + 256) % 256
      }
    }
  }

  test("GVC q=1 round trip is LOSSLESS through encode->decode and the " +
      "SPS carries the config") {
    import graft.functions.Gvc
    val cfg = Gvc.Config(16, 16, 8, range = 3, q = 1)
    val fs = gvcFrames(11, 6, 16, 16)
    val (cfg2, dec) = Gvc.decode(Gvc.encode(fs, cfg))
    assert(cfg2 == cfg)
    assert(dec.length == fs.length)
    fs.zip(dec).zipWithIndex.foreach { case ((a, b), t) =>
      assert(a.sameElements(b), s"frame $t not lossless")
    }
  }

  test("GVC q>1 is lossy but DRIFT-FREE: decoder output equals the " +
      "encoder's own closed-loop reconstruction, per-pixel error " +
      "bounded by q-1 on every frame including the last") {
    import graft.functions.{Gvc, Motion}
    val cfg = Gvc.Config(16, 16, 8, range = 3, q = 5)
    val fs = gvcFrames(23, 10, 16, 16)
    val (_, dec) = Gvc.decode(Gvc.encode(fs, cfg))
    // re-run the encoder's own recon chain and compare exactly
    var recon: Array[Int] = null
    fs.zipWithIndex.foreach { case (f, t) =>
      recon =
        if (t == 0) {
          val r = new Array[Int](256); var pred = 128
          for (by <- 0 until 2; bx <- 0 until 2; y <- 0 until 8; x <- 0 until 8) {
            if (y == 0 && x == 0) pred = 128
            val idx = (by * 8 + y) * 16 + (bx * 8 + x)
            val tq = Gvc.quantDiv(f(idx) - pred, cfg.q)
            r(idx) = pred + tq * cfg.q; pred = r(idx)
          }
          r
        } else Motion.encodeP(f, recon, 16, 16, 8, 3, cfg.q)._2
      assert(dec(t).sameElements(recon), s"frame $t decoder drift")
      // closed loop: error vs ORIGINAL bounded by the quantizer step
      // on every frame — no accumulation
      f.indices.foreach { i =>
        assert(math.abs(f(i) - dec(t)(i)) <= cfg.q - 1,
          s"frame $t px $i error ${f(i) - dec(t)(i)} exceeds q-1")
      }
    }
  }

  test("GVC survives the classic-MP4 container round trip and rejects " +
      "corrupt NAL length prefixes loudly") {
    import graft.functions.Gvc
    import graft.sources.IsoBmff
    val cfg = Gvc.Config(32, 16, 8, range = 2, q = 1)
    val fs = gvcFrames(37, 5, 32, 16)
    val packets = Gvc.encode(fs, cfg)
    val track = Seq(IsoBmff.Mp4Track(1, "video", "gvc1",
      width = 32, height = 16))
    val samples = packets.zipWithIndex.map { case (p, i) =>
      IsoBmff.Mp4Sample(1, i * 33L, 33L, keyframe = i == 0, p) }
    val (_, rec) = IsoBmff.demuxFlat(IsoBmff.muxFlat(track, samples))
    val (cfg2, dec) = Gvc.decode(rec.map(_.payload))
    assert(cfg2 == cfg && dec.length == fs.length)
    fs.zip(dec).foreach { case (a, b) => assert(a.sameElements(b)) }
    val bad = packets.head.clone()
    bad(0) = 0x7f // length prefix now overruns the sample
    val ex = intercept[IllegalArgumentException] {
      Gvc.decode(Seq(bad))
    }
    assert(ex.getMessage.contains("overruns"))
  }
}
