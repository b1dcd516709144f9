package graft

import graft.sources.MpegTs._
import org.scalatest.funsuite.AnyFunSuite

/** MPEG-TS format pins — the fourth container family, and the one the
  * reference's video viewer actually emits
  * (ui/videoviewer.py:63, format="mpegts"): packet framing, PSI CRCs,
  * PAT→PMT PID resolution, PES/PTS encoding, PCR, continuity
  * counters, stuffing, and the mux→demux identity.
  */
class MpegTsSpec extends AnyFunSuite {

  private def sample(track: String, ptsMs: Long, tag: String): TsSample =
    TsSample(track, ptsMs * 90, tag.getBytes("UTF-8"))

  private val samples = Seq(
    sample("video", 0L, "v0-" + "x" * 400), // 2 TS packets
    sample("audio", 0L, "a0"),
    sample("video", 33L, "v1"),
    sample("audio", 32L, "a" * 200),
    sample("video", 66L, "v2-" + "y" * 180)) // exactly near one packet

  test("CRC-32/MPEG-2 known vector and the zero-residue property") {
    // '123456789' → 0x0376E6E7 (CRC-32/MPEG-2 check value)
    val v = "123456789".getBytes("US-ASCII")
    assert(crc32(v, 0, v.length) == 0x0376e6e7L)
    val withCrc = v ++ Array[Byte](0x03, 0x76.toByte, 0xe6.toByte, 0xe7.toByte)
    assert(crc32(withCrc, 0, withCrc.length) == 0L)
  }

  test("mux→demux identity: order, stream types via PAT→PMT, PTS, " +
      "payload bytes, PCR on video") {
    val bytes = mux(samples)
    assert(bytes.length % PacketSize == 0)
    val got = demux(bytes)
    assert(got.size == samples.size)
    got.zip(samples).foreach { case (g, w) =>
      assert(g.pts90 == w.pts90)
      assert(g.payload.toSeq == w.payload.toSeq)
      val wantType =
        if (w.track == "video") VideoStreamType else AudioStreamType
      assert(g.streamType == wantType)
      if (w.track == "video") assert(g.pcrBase.contains(w.pts90))
      else assert(g.pcrBase.isEmpty)
    }
  }

  test("packet counts match the capacity arithmetic (PCR shrinks the " +
      "first video packet to 176 payload bytes; others carry 184)") {
    val got = demux(mux(samples))
    got.zip(samples).foreach { case (g, w) =>
      val total = 14 + w.payload.length
      val cap1 = if (w.track == "video") 176 else 184
      val want = 1 + math.max(0,
        math.ceil((total - cap1) / 184.0).toInt)
      assert(g.nPackets == want,
        s"${w.track}@${w.pts90}: $total bytes → ${g.nPackets}, want $want")
    }
  }

  test("demux rejects lost sync, continuity errors, and corrupted PSI") {
    val bytes = mux(samples)
    intercept[IllegalArgumentException] { demux(bytes.drop(4)) }
    val badSync = bytes.clone(); badSync(3 * PacketSize) = 0x48
    intercept[IllegalArgumentException] { demux(badSync) }
    // flip a PAT byte inside the section → CRC must catch it
    val badCrc = bytes.clone(); badCrc(9) = (badCrc(9) ^ 0x01).toByte
    intercept[IllegalArgumentException] { demux(badCrc) }
    // duplicate a payload packet → continuity counter must catch it
    val dup = bytes.slice(2 * PacketSize, 3 * PacketSize)
    val withDup = bytes.take(3 * PacketSize) ++ dup ++
      bytes.drop(3 * PacketSize)
    intercept[IllegalArgumentException] { demux(withDup) }
  }

  test("33-bit PTS wraps survive the marker-bit encoding") {
    val big = (1L << 33) - 90L // near the 33-bit top
    val got = demux(mux(Seq(TsSample("audio", big, Array[Byte](1, 2)))))
    assert(got.head.pts90 == big)
  }

  test("a video frame past the 16-bit PES length muxes UNBOUNDED " +
      "(length 0, the form real muxers emit) and round-trips; an " +
      "audio frame that size fails loud") {
    val big = sample("video", 10L, "V" * 70000)
    val got = demux(mux(Seq(big, sample("audio", 10L, "a"))))
    assert(got.size == 2)
    assert(got.head.payload.length == 70000)
    assert(got.head.payload.toSeq == big.payload.toSeq)
    assert(got.head.pts90 == big.pts90)
    intercept[IllegalArgumentException] {
      mux(Seq(sample("audio", 0L, "A" * 70000)))
    }
  }

  test("a DVB-style PAT whose first entry is the program-0 NIT still " +
      "resolves the PMT from the first real program") {
    val bytes = mux(samples)
    // rebuild packet 0 (the PAT) with a leading NIT entry
    val patOld = java.util.Arrays.copyOfRange(bytes, 0, PacketSize)
    // locate the section: 4B header + pointer byte
    val ptr = patOld(4) & 0xff
    val sec = 5 + ptr
    val secLen = ((patOld(sec + 1) & 0x0f) << 8) | (patOld(sec + 2) & 0xff)
    // entries run [sec+8, sec+3+secLen-4); splice NIT (prog 0 -> pid 0x10)
    val head = java.util.Arrays.copyOfRange(patOld, sec, sec + 8)
    val entries = java.util.Arrays.copyOfRange(patOld, sec + 8,
      sec + 3 + secLen - 4)
    val nit = Array[Byte](0, 0, 0xe0.toByte, 0x10)
    val newLen = secLen + 4
    head(1) = (0xb0 | ((newLen >> 8) & 0x0f)).toByte
    head(2) = (newLen & 0xff).toByte
    val noCrc = head ++ nit ++ entries
    val crc = crc32(noCrc, 0, noCrc.length)
    val section = noCrc ++ Array[Byte](((crc >> 24) & 0xff).toByte,
      ((crc >> 16) & 0xff).toByte, ((crc >> 8) & 0xff).toByte,
      (crc & 0xff).toByte)
    val pkt = new Array[Byte](PacketSize)
    java.util.Arrays.fill(pkt, 0xff.toByte)
    System.arraycopy(patOld, 0, pkt, 0, 5) // header + pointer
    System.arraycopy(section, 0, pkt, 5 + ptr, section.length)
    val patched = pkt ++ java.util.Arrays.copyOfRange(bytes, PacketSize,
      bytes.length)
    val got = demux(patched)
    assert(got.size == samples.size)
    assert(got.map(_.streamType).toSet ==
      Set(VideoStreamType, AudioStreamType))
  }
}
