package graft

import graft.functions.CodecProfileJson
import graft.sources.{Aac, AudioIndex, H264, Mp2, Mp3, Vlc}
import org.scalatest.funsuite.AnyFunSuite

/** The universal table-injection seam: [[graft.sources.Vlc]]'s
  * prefix-code mechanics, each family's Profile (MP3 pair tables,
  * MP2 allocation/window, AAC codebooks, H.264 CAVLC codewords),
  * the JSON round trip, and the [[graft.RunDecode]] CLI end to end
  * per family — so a user holding the real appendix tables has a
  * TESTED path from a JSON document to a decoded file, and the first
  * real-file attempt fails in a named place rather than silently. */
class CodecProfileSpec extends AnyFunSuite with TempDirs {

  // ---- Vlc ------------------------------------------------------------------

  test("Vlc: prefix-freedom is enforced, FLC/canonical builders are " +
      "valid codes, and write → read round-trips every codeword") {
    intercept[IllegalArgumentException] {
      Vlc(Vector(Vlc.Entry(0, 2, 1), Vlc.Entry(1, 3, 2)))
    } // 01 is a prefix of 010
    intercept[IllegalArgumentException] {
      Vlc(Vector(Vlc.Entry(0, 2, 1), Vlc.Entry(1, 2, 1)))
    } // duplicate codeword
    intercept[IllegalArgumentException] {
      Vlc(Vector(Vlc.Entry(0, 2, 1), Vlc.Entry(0, 3, 0)))
    } // duplicate value
    val flc = Vlc.flc(4, 0 until 16)
    assert(flc.maxLen == 4 && flc.bits(9) == 4)
    val can = Vlc.canonical(Seq((7, 1), (3, 2), (5, 3), (1, 3)))
    // canonical: sorted by (len, value) → 7:0, 3:10, 1:110, 5:111
    assert(can.bits(7) == 1 && can.bits(3) == 2 && can.bits(1) == 3)
    val w = new graft.sources.Flac.BitWriter
    Seq(7, 3, 5, 1, 7, 5).foreach(v => can.write(w.writeBits, v))
    val bytes = w.toBytes
    val r = new graft.sources.Flac.BitReader(bytes, 0, bytes.length)
    assert(Seq.fill(6)(can.read(r.readBits)) == Seq(7, 3, 5, 1, 7, 5))
    intercept[IllegalArgumentException](can.bits(2))
  }

  // ---- shared fixtures ------------------------------------------------------

  /** A full 256-entry MP3 pair table: short codes for the 16 small
    * pairs, longer for the rest (Kraft 16/32 + 240/512 < 1). */
  private val pairVlc = Vlc.canonical(
    (0 until 16).map(v => (v, 5)) ++ (16 until 256).map(v => (v, 9)))
  private val count1Vlc = Vlc.canonical(
    Seq((0, 2)) ++ (1 until 16).map(v => (v, 5)))

  private def mp3Profile: Mp3.Profile = Mp3.Profile.StandIn.copy(
    huff = Vector.tabulate(32)(t =>
      if (t == 18 || t == 19 || t == 2) Some(pairVlc) else None),
    count1A = Some(count1Vlc))

  private def mp3Frame(i: Int): Mp3.Mp3FrameData = {
    val scfsi = Vector.fill(4)(false)
    def granule(gr: Int): Mp3.Granule = {
      val bv = 8 + (i + gr) % 6
      val pairs = Vector.tabulate(bv) { p =>
        val m = (i * 5 + p * 7 + gr * 11) % 9
        (if (p % 2 == 0) m else -m, (m + p) % 9)
      }
      val c1 = Vector.tabulate(3)(q =>
        ((q + i) % 3 - 1, (q + i + 1) % 3 - 1, 0, 1))
      val sfc = 10 // slen (2, 3)
      val sfs = Vector.tabulate(21)(b =>
        if (b < 11) (i + b) % 4 else (i + b) % 8)
      Mp3.Granule(pairs, c1, 100 + i + gr, sfc, (2, 18, 19),
        1, 2, preflag = false, scalefacScale = false, scalefacs = sfs)
    }
    Mp3.Mp3FrameData(14, 2, padding = false, scfsi,
      Vector(granule(0), granule(1)))
  }

  // ---- MP3 ------------------------------------------------------------------

  test("MP3 profile: injected pair tables + count1 table A flip the " +
      "stream to the spec's joint-codeword layout, round-trip " +
      "exactly, shrink the stream vs the stand-in, and the JSON " +
      "document round-trips") {
    val p = mp3Profile
    val frames = (0 until 4).map(mp3Frame)
    val injected = Mp3.mux(frames, p)
    val rec = Mp3.demux(injected, p)
    assert(rec.size == 4)
    rec.map(_._2).zip(frames).foreach { case (got, want) =>
      assert(got.granules.map(_.bigValues) ==
        want.granules.map(_.bigValues))
      assert(got.granules.map(_.count1) == want.granules.map(_.count1))
      assert(got.granules.map(_.scalefacs) ==
        want.granules.map(_.scalefacs))
    }
    // the injected layout is a DIFFERENT bitstream (joint pair
    // codewords vs per-value fields) — part3 lengths differ
    val standIn = Mp3.mux(frames)
    assert(!java.util.Arrays.equals(injected, standIn))
    assert(frames.head.part23LengthWith(0, p) !=
      frames.head.part23Length(0))
    // reading an injected stream with the WRONG tables fails loudly
    // (part2_3_length consumption cannot match)
    intercept[IllegalArgumentException](Mp3.demux(injected))
    // JSON round trip preserves decode behavior
    val json = CodecProfileJson.renderMp3(p)
    val p2 = CodecProfileJson.parseMp3(json)
    assert(CodecProfileJson.renderMp3(p2) == json)
    assert(Mp3.demux(injected, p2).map(_._2) == rec.map(_._2))
    // a partial document swaps only the named field
    val partial = CodecProfileJson.parseMp3("""{"linbits":[""" +
      (0 until 32).map(t => if (t < 16) 0 else 7).mkString(",") + "]}")
    assert(partial.linbits(20) == 7 && partial.huff.forall(_.isEmpty))
  }

  test("MP3 profile: the reservoir walk honors injected tables and " +
      "scfsi sharing still verifies under them") {
    val p = mp3Profile
    val frames = (0 until 6).map(mp3Frame)
    val bytes = Mp3.muxReservoir(frames, p)
    val rec = Mp3.demuxReservoir(bytes, p)
    assert(rec.map(_._3.granules.map(_.bigValues)) ==
      frames.map(_.granules.map(_.bigValues)))
  }

  // ---- MP2 ------------------------------------------------------------------

  test("MP2 profile: injected per-subband allocation widths, quantizer " +
      "rows, sblimit and window round-trip, change the layout vs the " +
      "stand-in, and drive the synthesis filterbank") {
    val allocBits = Array.tabulate(27)(sb =>
      if (sb < 10) 4 else if (sb < 20) 3 else 2)
    val rows = Array.tabulate(27) { sb =>
      if (sb < 10) Mp2.Levels.toArray
      else if (sb < 20) Array(0, 3, 5, 7, 9, 15, 31, 63)
      else Array(0, 3, 5, 9)
    }
    val window = Array.tabulate(512)(i => ((i * 17 + 3) % 101) - 50)
    val p = Mp2.Profile(window, allocBits, rows)
    assert(p.sblimit == 27)
    val subs = Array.tabulate(Mp2.Sblimit) { sb =>
      if (sb >= 27 || sb % 4 == 3) Mp2.Mp2Sub(0, 0, Array.empty, Array.empty)
      else {
        val q = 1 + sb % (rows(sb).length - 1)
        val l = rows(sb)(q)
        Mp2.Mp2Sub(q, sb % 4, Array.fill(Mp2.nsfStored(sb % 4))(sb % 63),
          Array.tabulate(36)(t => (sb * 7 + t * 5) % l))
      }
    }
    val f = Mp2.Mp2FrameData(14, 0, padding = false, subs)
    val bytes = Mp2.mux(Seq(f), p)
    val rec = Mp2.demux(bytes, p)
    assert(rec.size == 1)
    rec.head._2.subs.zip(subs).foreach { case (got, want) =>
      assert(got.q == want.q)
      assert(got.samples.toSeq == want.samples.toSeq)
      assert(got.sf.toSeq == want.sf.toSeq)
    }
    // stand-in and injected layouts differ (field widths + sblimit)
    assert(f.bodyBitsWith(p) != f.bodyBits)
    // an allocation index outside the injected row is loud
    val bad = subs.updated(20,
      Mp2.Mp2Sub(5, 0, Array(1, 2, 3), Array.fill(36)(1)))
    intercept[IllegalArgumentException](
      Mp2.mux(Seq(Mp2.Mp2FrameData(14, 0, padding = false, bad)), p))
    // the injected window reaches the synthesis filterbank
    val synth = new Mp2.Synth(p.window)
    val out = synth.step(Array.tabulate(32)(sb => if (sb == 0) 3 else 0))
    val (k0, _) = (Mp2.impulseKernels(p.window)._2,
      Mp2.impulseKernels(p.window)._1)
    assert(out(0) == 3L * k0(0))
    // JSON round trip
    val json = CodecProfileJson.renderMp2(p)
    assert(CodecProfileJson.renderMp2(CodecProfileJson.parseMp2(json))
      == json)
  }

  // ---- AAC ------------------------------------------------------------------

  private def aacCbVlc(cb: Int): Vlc = {
    val base = if (Aac.cbSigned(cb)) 2 * Aac.cbLav(cb) + 1
      else if (cb == 11) 17 else Aac.cbLav(cb) + 1
    val size = math.pow(base.toDouble, Aac.cbDim(cb).toDouble).toInt
    val len = 33 - Integer.numberOfLeadingZeros(size - 1) + 1
    Vlc.canonical((0 until size).map(v => (v, len)))
  }

  test("AAC profile: injected spectral codebooks flip those books to " +
      "joint tuple codewords, the SCE/CPE round trip holds, the " +
      "stand-in stream differs, and the JSON document round-trips") {
    val p = Aac.Profile.StandIn.copy(cb = Vector.tabulate(12)(b =>
      if (b == 3 || b == 5 || b == 11) Some(aacCbVlc(b)) else None))
    val info = Aac.IcsInfo(0, 0, 5, 0)
    val widths = (0 until 5).map(w => info.sfbWidth(w, 1))
    val sections = Vector(Vector(Aac.Section(5, 0, 2),
      Aac.Section(3, 2, 4), Aac.Section(11, 4, 5)))
    def spec(seed: Int): Vector[Vector[Vector[Int]]] = Vector(
      (0 until 5).toVector.map { w =>
        val cb = if (w < 2) 5 else if (w < 4) 3 else 11
        val lav = Aac.cbLav(cb)
        Vector.tabulate(widths(w)) { k =>
          val m = (seed + w * 7 + k * 3) % (lav + 1)
          if (cb == 11 && k == 0) 40 // exercise the §9.3 escape
          else if (k % 2 == 0) m else -m
        }
      })
    val ics = Aac.AacIcs(100, info, sections,
      Vector(Vector.tabulate(5)(d => d - 2)), None, spec(1))
    val injected = Aac.muxSce(ics, 0, p)
    val (tag, rec) = Aac.demuxSce(injected, p)
    assert(tag == 0 && rec.spectral == ics.spectral &&
      rec.dpcm == ics.dpcm && rec.sections == ics.sections)
    val standIn = Aac.muxSce(ics)
    assert(!java.util.Arrays.equals(injected, standIn))
    // CPE path under the same profile
    val right = Aac.AacIcs(90, info, sections,
      Vector(Vector.tabulate(5)(d => 1 - d)), None, spec(2))
    val cpe = Aac.muxCpe(ics, right, Vector.fill(1)(
      Vector.fill(5)(true)), 1, 0, p)
    val (_, l2, r2, msp, _) = Aac.demuxCpe(cpe, p)
    assert(msp == 1 && l2.spectral == ics.spectral &&
      r2.spectral == right.spectral)
    // JSON round trip
    val json = CodecProfileJson.renderAac(p)
    val p2 = CodecProfileJson.parseAac(json)
    assert(CodecProfileJson.renderAac(p2) == json)
    assert(Aac.demuxSce(injected, p2)._2.spectral == ics.spectral)
  }

  // ---- H.264 ----------------------------------------------------------------

  private def h264Profile: H264.Profile = {
    val tokenValues =
      (0 to 16).flatMap(tc => (0 to math.min(3, tc)).map(t1 => tc * 4 + t1))
    val token = Vlc.canonical(tokenValues.map(v => (v, 7)))
    H264.Profile(
      cbpIntra = Array.tabulate(48)(i => (i * 7 + 5) % 48),
      cbpInter = Array.tabulate(48)(i => (i * 13 + 11) % 48),
      coeffToken = Some(H264.CoeffTokenTables(token, token, token,
        Vlc.canonical(Seq(0, 4, 5, 8, 9, 10, 12, 13, 14, 15, 16, 17,
          18, 19).map(v => (v, 6))))),
      totalZeros = Some(Vector.tabulate(15)(i =>
        Vlc.canonical((0 to 16 - (i + 1)).map(v => (v, 6))))),
      totalZerosCdc = Some(Vector.tabulate(3)(i =>
        Vlc.canonical((0 to 4 - (i + 1)).map(v => (v, 4))))),
      runBefore = Some(Vector.tabulate(7)(i =>
        Vlc.canonical((0 to (if (i < 6) i + 1 else 14))
          .map(v => (v, 5))))))
  }

  test("H.264 profile: injected Table 9-5/9-7/9-10 codewords + CBP " +
      "columns round-trip a coded Intra_4x4 slice, the stand-in " +
      "stream differs, and the JSON document round-trips") {
    val prof = h264Profile
    val sps = H264.parseSps(H264.writeSps(32, 16))
    val pps = H264.parsePps(H264.writePps())
    val modes = Vector.fill(2)(Array.tabulate(16)(i => i % 9))
    val chromaModes = Vector(1, 2)
    val cbps = Vector(0x1F, 0x23) // luma quads + chroma
    val qpd = Vector(1, -1)
    def blk(seed: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = seed % 5 - 2; a(1) = 3; a(5) = if (seed % 2 == 0) -1 else 4
      a
    }
    val luma = Vector.tabulate(2)(mb => Vector.tabulate(16)(b =>
      if ((cbps(mb) & (1 << (b / 4))) != 0) blk(mb * 16 + b)
      else Array.empty[Int]))
    val cdc = Vector.tabulate(2)(mb =>
      Vector.fill(2)(Array(mb + 1, 0, -1, 0)))
    val cac = Vector.tabulate(2) { mb =>
      if ((cbps(mb) >> 4) == 2)
        Vector.fill(2)(Vector.fill(4)(Array.tabulate(15)(k =>
          if (k == 0) 2 else 0)))
      else Vector.fill(2)(Vector.fill(4)(Array.empty[Int]))
    }
    val injected = H264.writeIntraCodedSlice(0, sps, pps, modes,
      chromaModes, cbps, qpd, luma, cdc, cac, 0, 0, -1, prof)
    val (_, mbs) = H264.parseIntraCodedSlice(injected, sps, pps, -1, prof)
    assert(mbs.length == 2)
    mbs.zipWithIndex.foreach { case (mb, i) =>
      assert(mb.intra.cbp == cbps(i) && mb.qpDelta == qpd(i))
      assert(mb.luma.map(_.toSeq) == luma(i).map(_.toSeq))
      assert(mb.chromaDc.map(_.toSeq) == cdc(i).map(_.toSeq))
    }
    val standIn = H264.writeIntraCodedSlice(0, sps, pps, modes,
      chromaModes, cbps, qpd, luma, cdc, cac)
    assert(!java.util.Arrays.equals(injected, standIn))
    // JSON round trip preserves decode behavior
    val json = CodecProfileJson.renderH264(prof)
    val p2 = CodecProfileJson.parseH264(json)
    assert(CodecProfileJson.renderH264(p2) == json)
    val (_, mbs2) = H264.parseIntraCodedSlice(injected, sps, pps, -1, p2)
    assert(mbs2.map(_.luma.map(_.toSeq)) == mbs.map(_.luma.map(_.toSeq)))
  }

  // ---- CLI end to end per family -------------------------------------------

  test("RunDecode CLI: dump-standin per family is loadable JSON, and " +
      "each audio/video family decodes a file under an injected " +
      "profile end to end (the real-file smoke path)") {
    val dir = tempDir("rundecode-all")
    def dump(family: String): String = {
      val out = dir.resolve(s"$family-standin.json")
      RunDecode.main(Array("dump-standin", family, out.toString))
      new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    }
    Seq("vp8", "mp2", "mp3", "aac", "h264").foreach { fam =>
      val json = dump(fam)
      assert(json.nonEmpty && json.startsWith("{"))
    }
    // every dumped stand-in parses back to the stand-in behavior
    assert(CodecProfileJson.renderMp3(CodecProfileJson.parseMp3(
      dump("mp3"))) == CodecProfileJson.renderMp3(Mp3.Profile.StandIn))

    def runCli(fam: String, profJson: String, input: Array[Byte])
        : Seq[String] = {
      val pj = dir.resolve(s"$fam-profile.json")
      java.nio.file.Files.write(pj, profJson.getBytes("UTF-8"))
      val in = dir.resolve(s"$fam-input.bin")
      java.nio.file.Files.write(in, input)
      val out = dir.resolve(s"$fam-out")
      RunDecode.main(Array(fam, pj.toString, in.toString, out.toString))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
        out.resolve("frames.jsonl")).asScala.toSeq
    }

    // MP3: injected pair tables through the reservoir walk
    val mp3p = mp3Profile
    val mp3Frames = (0 until 3).map(mp3Frame)
    val mp3Lines = runCli("mp3", CodecProfileJson.renderMp3(mp3p),
      Mp3.muxReservoir(mp3Frames, mp3p))
    assert(mp3Lines.size == 3)
    assert(mp3Lines.head.contains(
      s""""big_values":[${mp3Frames.head.granules(0).bigValues.length}"""))

    // MP2: injected alloc tables + window → PCM sums
    val allocBits = Array.fill(27)(3)
    val rows = Array.fill(27)(Array(0, 3, 5, 7, 9, 15, 31, 63))
    val mp2p = Mp2.Profile(
      Array.tabulate(512)(i => ((i * 17 + 3) % 101) - 50),
      allocBits, rows)
    val mp2Subs = Array.tabulate(Mp2.Sblimit)(sb =>
      if (sb >= 27 || sb % 3 != 0) Mp2.Mp2Sub(0, 0, Array.empty, Array.empty)
      else Mp2.Mp2Sub(2, 0, Array.fill(3)(sb % 63),
        Array.tabulate(36)(t => (sb + t) % 5)))
    val mp2Lines = runCli("mp2", CodecProfileJson.renderMp2(mp2p),
      Mp2.mux(Seq(Mp2.Mp2FrameData(14, 0, padding = false, mp2Subs)),
        mp2p))
    assert(mp2Lines.size == 1 && mp2Lines.head.contains(""""pcm_sum":"""))

    // AAC: injected codebooks inside an ADTS stream
    val aacP = Aac.Profile.StandIn.copy(cb = Vector.tabulate(12)(b =>
      if (b == 5) Some(aacCbVlc(5)) else None))
    val info = Aac.IcsInfo(0, 0, 3, 0)
    val ics = Aac.AacIcs(100, info,
      Vector(Vector(Aac.Section(5, 0, 3))),
      Vector(Vector(1, -1, 2)), None,
      Vector((0 until 3).toVector.map(w =>
        Vector.tabulate(info.sfbWidth(w, 1))(k => k % 5 - 2))))
    val adts = AudioIndex.adtsMux(Seq(AudioIndex.AdtsFrame(1, 4, 1,
      crcPresent = false, Aac.muxSce(ics, 0, aacP))))
    val aacLines = runCli("aac", CodecProfileJson.renderAac(aacP), adts)
    assert(aacLines.size == 1 && aacLines.head.contains(""""el":"sce""""))
    val specSum = ics.spectral.iterator.flatten.flatten
      .map(v => math.abs(v).toLong).sum
    assert(aacLines.head.contains(s""""spec_sum":$specSum"""))

    // H.264: injected CAVLC tables through an Annex-B stream
    val prof = h264Profile
    val sps = H264.writeSps(16, 16)
    val pps = H264.writePps()
    val slice = H264.writeIntraCodedSlice(0,
      H264.parseSps(sps), H264.parsePps(pps),
      Vector(Array.fill(16)(2)), Vector(0), Vector(1), Vector(0),
      Vector(Vector.tabulate(16)(b => if (b < 4) Array.tabulate(16)(k =>
        if (k == 0) 3 else 0) else Array.empty[Int])),
      Vector(Vector.fill(2)(Array(1, 0, 0, 0))),
      Vector(Vector.fill(2)(Vector.fill(4)(Array.empty[Int]))),
      0, 0, -1, prof)
    val annexB = Seq(sps, pps, slice).flatMap(n =>
      Array[Byte](0, 0, 0, 1) ++ n).toArray
    val h264Lines = runCli("h264", CodecProfileJson.renderH264(prof),
      annexB)
    assert(h264Lines.size == 3)
    assert(h264Lines(2).contains(""""family":"intra_coded""""))
    assert(h264Lines(2).contains(""""mbs":1"""))
  }
}
