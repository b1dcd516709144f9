package graft.sources

import java.io.ByteArrayOutputStream

/** H.264/AVC bitstream codec (ITU-T H.264 §7.3/§9, public spec) —
  * from the NAL/SPS/PPS/slice HEADER layer (m37's index contract:
  * resolution, profile/level, GOP structure, keyframe index) through
  * BOTH entropy coders: the complete CAVLC residual machinery
  * (§9.2 — m62/m64/m65/m66) and the CABAC arithmetic engine with
  * mode-level and residual I-slice syntax (§9.3 — m69/m72,
  * [[Cabac]]), plus I_PCM. Pixel reconstruction and deblocking live
  * in [[H264Recon]] (§8.3/§8.5/§8.7 — m68/m71); the reference
  * decodes h264 through libav
  * (/root/reference/streamtasks/media/codec.py:50-135). Appendix
  * VALUE tables (CBP columns, CAVLC codewords, CABAC state/init
  * tables, deblocking thresholds) ride [[Profile]] —
  * JSON-injectable, deterministic stand-ins by default.
  *
  * Implemented from the spec alone:
  *  - Exp-Golomb ue(v)/se(v) bit codes (§9.1) both directions;
  *  - RBSP emulation prevention (§7.4.1.1): `00 00 (00|01|02|03)` →
  *    `00 00 03 xx` on write, stripped on read — the reason start
  *    codes can never appear inside a NAL;
  *  - NAL header (§7.3.1): forbidden bit, nal_ref_idc, nal_unit_type;
  *  - SPS (§7.3.2.1.1, baseline/main): profile/constraints/level,
  *    log2_max_frame_num, pic_order_cnt_type ∈ {0,2}, mb-grid
  *    dimensions, frame cropping (4:2:0 crop units) → exact
  *    width/height;
  *  - PPS (§7.3.2.2): the fields that gate optional slice-header
  *    syntax (entropy mode, weighted pred, deblocking-control);
  *  - slice header (§7.3.3) through the QP delta for I/P slices —
  *    first_mb, slice_type, frame_num (sized by the ACTIVE SPS),
  *    idr_pic_id, ref-idx/ref-list/marking flags;
  *  - Annex-B start-code and AVCC length-prefix stream splitting.
  *
  * Everything is integer bit arithmetic; the m37 query drives a real
  * mux→demux→parse loop through the classic-MP4 layout with every
  * parsed field and byte count under the DuckDB oracle. */
object H264 {

  val NalSlice = 1
  val NalIdr = 5
  val NalSps = 7
  val NalPps = 8

  // ---- bit IO (MSB-first) + Exp-Golomb -------------------------------------

  final class BitW {
    private[H264] val bw = new Flac.BitWriter
    def u(value: Long, n: Int): Unit = bw.writeBits(value, n)
    def ue(v: Long): Unit = {
      require(v >= 0, s"ue($v)")
      val codeNum = v + 1
      val bits = 63 - java.lang.Long.numberOfLeadingZeros(codeNum)
      bw.writeBits(0L, bits)          // leading zeros
      bw.writeBits(codeNum, bits + 1) // codeNum, MSB first
    }
    def se(v: Long): Unit = ue(if (v <= 0) -2 * v else 2 * v - 1)
    /** Zero-pad to the byte boundary (pcm_alignment_zero_bit, §7.3.5). */
    def align(): Unit = bw.alignByte()
    /** rbsp_trailing_bits: stop one bit + zero-align (§7.3.2.11). */
    def stop(): Unit = { bw.writeBits(1L, 1); bw.alignByte() }
    /** cabac_alignment_one_bit run (§7.3.4): ONES to the boundary. */
    def align1(): Unit =
      while (bw.pendingBits != 0) bw.writeBits(1L, 1)
    def toRbsp: Array[Byte] = bw.toBytes
  }

  final class BitR(bytes: Array[Byte]) {
    private val br = new Flac.BitReader(bytes)
    def u(n: Int): Long = br.readBits(n)
    /** Skip to the byte boundary (the pcm_alignment_zero_bit run). */
    def alignByte(): Unit = br.alignByte()
    /** cabac_alignment_one_bit run (§7.3.4): each bit must be 1. */
    def alignSkip1(): Unit =
      while (br.bitPos % 8 != 0)
        require(br.readBits(1) == 1L,
          "h264: cabac_alignment_one_bit is not 1")
    /** pcm_alignment_zero_bit run (§7.3.5): each bit must be 0. */
    def alignSkip0(): Unit =
      while (br.bitPos % 8 != 0)
        require(br.readBits(1) == 0L,
          "h264: pcm_alignment_zero_bit is not 0")
    def ue(): Long = {
      var zeros = 0
      while (br.readBit() == 0) {
        zeros += 1
        require(zeros <= 32, "h264: exp-golomb run over 32 zeros")
      }
      ((1L << zeros) | br.readBits(zeros)) - 1
    }
    def se(): Long = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }
  }

  /** §7.4.1.1: insert emulation-prevention 0x03 after any two zero
    * bytes followed by 0x00..0x03. */
  def insertEmulation(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros == 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** Inverse of [[insertEmulation]]: drop the 0x03 in `00 00 03 xx`
    * when xx ≤ 3. */
  def stripEmulation(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (zeros == 2 && b == 3) {
        require(i + 1 >= until || (ebsp(i + 1) & 0xff) <= 3,
          "h264: 00 00 03 followed by a byte > 0x03 is not an escape")
        zeros = 0 // consume the 0x03
      } else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  private def nal(refIdc: Int, unitType: Int, rbsp: Array[Byte]): Array[Byte] = {
    require(refIdc >= 0 && refIdc <= 3 && unitType >= 1 && unitType <= 31)
    val body = insertEmulation(rbsp)
    val out = new Array[Byte](1 + body.length)
    out(0) = ((refIdc << 5) | unitType).toByte
    System.arraycopy(body, 0, out, 1, body.length)
    out
  }

  def nalType(nalBytes: Array[Byte]): Int = nalBytes(0) & 0x1f
  def nalRefIdc(nalBytes: Array[Byte]): Int = (nalBytes(0) >> 5) & 3

  // ---- SPS ------------------------------------------------------------------

  /** The SPS fields the indexer needs; `width`/`height` are the
    * DERIVED luma dimensions after cropping (§7.4.2.1.1). */
  final case class Sps(profileIdc: Int, levelIdc: Int, spsId: Int,
      log2MaxFrameNum: Int, picOrderCntType: Int, log2MaxPocLsb: Int,
      maxNumRefFrames: Int, widthMbs: Int, heightMapUnits: Int,
      frameMbsOnly: Boolean, cropL: Int, cropR: Int, cropT: Int,
      cropB: Int) {
    // 4:2:0, frame_mbs_only: CropUnitX = CropUnitY = 2
    def width: Int = widthMbs * 16 - 2 * (cropL + cropR)
    def height: Int =
      (if (frameMbsOnly) 1 else 2) * heightMapUnits * 16 - 2 * (cropT + cropB)
  }

  /** Write a conformant baseline SPS NAL for the given luma
    * dimensions (any even size — the mb remainder goes to right/
    * bottom crop, exactly how real encoders express 1080 = 68 mb
    * rows − 8 crop). */
  def writeSps(width: Int, height: Int, profileIdc: Int = 66,
      levelIdc: Int = 30, log2MaxFrameNum: Int = 4,
      picOrderCntType: Int = 2, maxNumRefFrames: Int = 1): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      s"h264: 4:2:0 luma dims must be even: $width x $height")
    require(picOrderCntType == 0 || picOrderCntType == 2,
      "h264: only poc types 0 and 2 are written")
    val wMbs = (width + 15) / 16
    val hMbs = (height + 15) / 16
    val cropR = (wMbs * 16 - width) / 2
    val cropB = (hMbs * 16 - height) / 2
    val w = new BitW
    w.u(profileIdc.toLong, 8)
    w.u(0L, 8) // constraint_set flags + reserved_zero_2bits
    w.u(levelIdc.toLong, 8)
    w.ue(0) // seq_parameter_set_id
    w.ue(log2MaxFrameNum.toLong - 4)
    w.ue(picOrderCntType.toLong)
    if (picOrderCntType == 0) w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(maxNumRefFrames.toLong)
    w.u(0L, 1) // gaps_in_frame_num_value_allowed_flag
    w.ue(wMbs.toLong - 1)
    w.ue(hMbs.toLong - 1)
    w.u(1L, 1) // frame_mbs_only_flag
    w.u(0L, 1) // direct_8x8_inference_flag
    val crop = cropR > 0 || cropB > 0
    w.u(if (crop) 1L else 0L, 1)
    if (crop) { w.ue(0); w.ue(cropR.toLong); w.ue(0); w.ue(cropB.toLong) }
    w.u(0L, 1) // vui_parameters_present_flag
    w.stop()
    nal(3, NalSps, w.toRbsp)
  }

  def parseSps(nalBytes: Array[Byte]): Sps = {
    require(nalType(nalBytes) == NalSps, s"h264: NAL ${nalType(nalBytes)} is not an SPS")
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val profile = r.u(8).toInt
    r.u(8) // constraints
    val level = r.u(8).toInt
    val spsId = r.ue().toInt
    require(profile == 66 || profile == 77 || profile == 88,
      s"h264: profile_idc $profile needs the chroma_format_idc branch " +
        "(High profiles unsupported)")
    val log2Mfn = r.ue().toInt + 4
    val pocType = r.ue().toInt
    var log2Poc = 0
    pocType match {
      case 0 => log2Poc = r.ue().toInt + 4
      case 2 => ()
      case other => sys.error(s"h264: pic_order_cnt_type $other unsupported")
    }
    val maxRef = r.ue().toInt
    r.u(1) // gaps allowed
    val wMbs = r.ue().toInt + 1
    val hUnits = r.ue().toInt + 1
    val fmof = r.u(1) == 1
    require(fmof, "h264: interlaced (frame_mbs_only_flag=0) unsupported")
    r.u(1) // direct_8x8
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (r.u(1) == 1) {
      cl = r.ue().toInt; cr = r.ue().toInt
      ct = r.ue().toInt; cb = r.ue().toInt
    }
    // vui ignored for indexing
    Sps(profile, level, spsId, log2Mfn, pocType, log2Poc, maxRef,
      wMbs, hUnits, fmof, cl, cr, ct, cb)
  }

  // ---- PPS ------------------------------------------------------------------

  final case class Pps(ppsId: Int, spsId: Int, cabac: Boolean,
      bottomFieldPoc: Boolean, weightedPred: Boolean, weightedBipred: Int,
      picInitQp: Int, deblockingControl: Boolean, redundantPicCnt: Boolean)

  def writePps(ppsId: Int = 0, spsId: Int = 0,
      cabac: Boolean = false): Array[Byte] = {
    val w = new BitW
    w.ue(ppsId.toLong)
    w.ue(spsId.toLong)
    w.u(if (cabac) 1L else 0L, 1)  // entropy_coding_mode_flag
    w.u(0L, 1)  // bottom_field_pic_order_in_frame_present_flag
    w.ue(0)     // num_slice_groups_minus1
    w.ue(0)     // num_ref_idx_l0_default_active_minus1
    w.ue(0)     // num_ref_idx_l1_default_active_minus1
    w.u(0L, 1)  // weighted_pred_flag
    w.u(0L, 2)  // weighted_bipred_idc
    w.se(0)     // pic_init_qp_minus26
    w.se(0)     // pic_init_qs_minus26
    w.se(0)     // chroma_qp_index_offset
    w.u(0L, 1)  // deblocking_filter_control_present_flag
    w.u(0L, 1)  // constrained_intra_pred_flag
    w.u(0L, 1)  // redundant_pic_cnt_present_flag
    w.stop()
    nal(3, NalPps, w.toRbsp)
  }

  def parsePps(nalBytes: Array[Byte]): Pps = {
    require(nalType(nalBytes) == NalPps, s"h264: NAL ${nalType(nalBytes)} is not a PPS")
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val ppsId = r.ue().toInt
    val spsId = r.ue().toInt
    val cabac = r.u(1) == 1
    val bfp = r.u(1) == 1
    require(r.ue() == 0, "h264: slice groups unsupported")
    r.ue(); r.ue() // default ref idx counts
    val wp = r.u(1) == 1
    val wb = r.u(2).toInt
    val qp = r.se().toInt + 26
    r.se(); r.se()
    val dbc = r.u(1) == 1
    r.u(1)
    val red = r.u(1) == 1
    Pps(ppsId, spsId, cabac, bfp, wp, wb, qp, dbc, red)
  }

  // ---- slice header ----------------------------------------------------------

  /** Parsed slice-header index entry. sliceType follows Table 7-6
    * (0=P, 2=I, +5 for the all-slices-equal forms). */
  final case class SliceInfo(nalUnitType: Int, idr: Boolean,
      firstMb: Int, sliceType: Int, ppsId: Int, frameNum: Int,
      idrPicId: Int, qpDelta: Int) {
    def isI: Boolean = sliceType % 5 == 2
    def isP: Boolean = sliceType % 5 == 0
  }

  /** Write an I/P slice-HEADER NAL (index layer only — no macroblock
    * data follows; parsers that index real streams read exactly this
    * prefix and skip the rest). */
  def writeSliceHeader(idr: Boolean, sliceType: Int, frameNum: Int,
      sps: Sps, pps: Pps, idrPicId: Int = 0, qpDelta: Int = 0): Array[Byte] = {
    require(!pps.cabac, "h264: CABAC slice writing unsupported")
    val w = new BitW
    w.ue(0) // first_mb_in_slice
    w.ue(sliceType.toLong)
    w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    if (idr) w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0)
      w.u(0L, sps.log2MaxPocLsb) // pic_order_cnt_lsb
    if (sliceType % 5 == 0) { // P
      w.u(0L, 1) // num_ref_idx_active_override_flag
      w.u(0L, 1) // ref_pic_list_modification_flag_l0
    }
    // dec_ref_pic_marking (nal_ref_idc != 0 — both our forms are refs)
    if (idr) { w.u(0L, 1); w.u(0L, 1) } // no_output / long_term_reference
    else w.u(0L, 1)                     // adaptive_ref_pic_marking_mode_flag
    w.se(qpDelta.toLong)
    w.stop()
    nal(if (idr) 3 else 2, if (idr) NalIdr else NalSlice, w.toRbsp)
  }

  def parseSliceHeader(nalBytes: Array[Byte], sps: Sps, pps: Pps): SliceInfo = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
  }

  /** §7.3.3 header walk on an open reader — shared by the index-layer
    * parse and the I_PCM slice decode (whose macroblock data follows
    * the header in the same bitstream). */
  private def readSliceHeader(r: BitR, nt: Int, refIdc: Int, sps: Sps,
      pps: Pps): SliceInfo = {
    // CABAC I slices carry no extra header syntax (cabac_init_idc is
    // P/B-only, §7.3.3) — the I-slice guard moves to the slice-type
    // check below; CABAC P slices stay a loud boundary
    val idr = nt == NalIdr
    val firstMb = r.ue().toInt
    val st = r.ue().toInt
    require(st % 5 == 0 || st % 5 == 2,
      s"h264: slice_type $st (B/SP/SI) unsupported")
    require(!pps.cabac || st % 5 == 2,
      "h264: CABAC P slices (cabac_init_idc) unsupported")
    require(!idr || st % 5 == 2, s"h264: IDR with non-I slice_type $st")
    val ppsId = r.ue().toInt
    require(ppsId == pps.ppsId, s"h264: slice names PPS $ppsId")
    val frameNum = r.u(sps.log2MaxFrameNum).toInt
    val idrPicId = if (idr) r.ue().toInt else 0
    if (sps.picOrderCntType == 0) r.u(sps.log2MaxPocLsb)
    if (st % 5 == 0) {
      if (r.u(1) == 1) r.ue() // overridden num_ref_idx_l0
      if (r.u(1) == 1) sys.error("h264: ref_pic_list_modification unsupported")
    }
    if (refIdc != 0) {
      if (idr) { r.u(1); r.u(1) }
      else if (r.u(1) == 1) sys.error("h264: adaptive ref marking unsupported")
    }
    val qpd = r.se().toInt
    SliceInfo(nt, idr, firstMb, st, ppsId, frameNum, idrPicId, qpd)
  }

  // ---- I_PCM slices (§7.3.5, §7.4.5, §8.3.5) ---------------------------------

  /** In I slices, Table 7-11 assigns mb_type 25 to I_PCM: raw 4:2:0
    * samples carried uncoded after a byte-alignment run. */
  private val MbTypeIPcm = 25

  /** Write a COMPLETE, conformant I_PCM IDR slice: §7.3.3 header, then
    * per macroblock mb_type = I_PCM, pcm_alignment_zero_bit to the
    * byte boundary, 256 luma + 64 Cb + 64 Cr raw samples (§7.3.5),
    * closed by rbsp_slice_trailing_bits. Any spec decoder reproduces
    * the planes bit-exactly — no transform, prediction or entropy
    * model stands between the bytes and the pixels, which is what
    * makes this the one H.264 payload form a zero-egress build can
    * emit with full conformance. Planes are whole-frame raster
    * (4:2:0); dimensions must be macroblock-aligned. */
  def writeIpcmSlice(frameNum: Int, sps: Sps, pps: Pps,
      y: Array[Int], u: Array[Int], v: Array[Int],
      idrPicId: Int = 0): Array[Byte] = {
    val w0 = sps.width; val h0 = sps.height
    require(w0 % 16 == 0 && h0 % 16 == 0,
      s"h264: I_PCM writer needs macroblock-aligned dims, got $w0 x $h0")
    require(y.length == w0 * h0 && u.length == w0 * h0 / 4 &&
      v.length == w0 * h0 / 4, "h264: plane sizes disagree with the SPS")
    require((y.iterator ++ u.iterator ++ v.iterator)
      .forall(s => s >= 0 && s <= 255), "h264: samples must be 8-bit")
    val w = new BitW
    w.ue(0) // first_mb_in_slice
    w.ue(7) // slice_type: I, all slices of the picture are I (Table 7-6)
    w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1) // dec_ref_pic_marking (IDR): no_output, long_term
    w.se(0) // slice_qp_delta (I_PCM ignores QP, but the field is present)
    val cs = w0 / 2
    var mb = 0
    val mbCols = w0 / 16
    val mbRows = h0 / 16
    while (mb < mbCols * mbRows) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      w.ue(MbTypeIPcm.toLong)
      w.align() // pcm_alignment_zero_bit run
      var i = 0
      while (i < 256) {
        w.u(y((mr * 16 + i / 16) * w0 + mc * 16 + i % 16).toLong, 8)
        i += 1
      }
      i = 0
      while (i < 64) {
        w.u(u((mr * 8 + i / 8) * cs + mc * 8 + i % 8).toLong, 8); i += 1
      }
      i = 0
      while (i < 64) {
        w.u(v((mr * 8 + i / 8) * cs + mc * 8 + i % 8).toLong, 8); i += 1
      }
      mb += 1
    }
    w.stop()
    nal(3, NalIdr, w.toRbsp)
  }

  /** Decode an all-I_PCM slice back to its planes. Every deviation
    * from the I_PCM subset (other mb_types, non-I slice) fails loudly
    * by name. */
  def parseIpcmSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps)
      : (SliceInfo, Array[Int], Array[Int], Array[Int]) = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val w0 = sps.width; val h0 = sps.height
    require(w0 % 16 == 0 && h0 % 16 == 0,
      s"h264: I_PCM parser needs macroblock-aligned dims, got $w0 x $h0")
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI, s"h264: I_PCM decode on slice_type ${info.sliceType}")
    val y = new Array[Int](w0 * h0)
    val u = new Array[Int](w0 * h0 / 4)
    val v = new Array[Int](w0 * h0 / 4)
    val cs = w0 / 2
    val mbCols = w0 / 16
    val mbRows = h0 / 16
    var mb = 0
    while (mb < mbCols * mbRows) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      val mbType = r.ue().toInt
      require(mbType == MbTypeIPcm,
        s"h264: mb_type $mbType at MB $mb — only I_PCM macroblocks " +
          "are decodable (coded residual needs CAVLC)")
      r.alignByte() // pcm_alignment_zero_bit run
      var i = 0
      while (i < 256) {
        y((mr * 16 + i / 16) * w0 + mc * 16 + i % 16) = r.u(8).toInt
        i += 1
      }
      i = 0
      while (i < 64) {
        u((mr * 8 + i / 8) * cs + mc * 8 + i % 8) = r.u(8).toInt; i += 1
      }
      i = 0
      while (i < 64) {
        v((mr * 8 + i / 8) * cs + mc * 8 + i % 8) = r.u(8).toInt; i += 1
      }
      mb += 1
    }
    require(r.u(1) == 1, "h264: missing rbsp_stop_one_bit after slice data")
    (info, y, u, v)
  }

  // ---- Intra_4x4 I slices at the prediction-mode level (§7.3.5, §8.3.1) -------

  /** STAND-IN coded_block_pattern me(v) mapping for Intra_4x4
    * macroblocks (the real Table 9-4 column is spec appendix data —
    * same seam class as Vp8's Profile): a deterministic 48-entry
    * permutation; codeNum = inverse lookup. The me(v) MECHANISM
    * (ue(v) then table map) is the normative part coded here. */
  private[graft] val CbpIntraMap: Array[Int] = {
    val a = Array.tabulate(48)(i => (i * 11 + 7) % 48)
    require(a.distinct.length == 48, "h264: CBP stand-in not a permutation")
    a
  }

  /** The CAVLC coeff_token table set of Table 9-5 (one [[Vlc]] per
    * nC column; the nC ≥ 8 column stays the spec's own 6-bit FLC).
    * Values are TotalCoeff·4 + TrailingOnes. */
  final case class CoeffTokenTables(n0: Vlc, n2: Vlc, n4: Vlc,
      chromaDc: Vlc) {
    Seq("nC<2" -> n0, "2<=nC<4" -> n2, "4<=nC<8" -> n4,
      "chromaDc" -> chromaDc).foreach { case (name, vlc) =>
      require(vlc.values.forall { v =>
        val (tc, t1) = (v >> 2, v & 3)
        tc >= 0 && tc <= 16 && t1 <= 3 && t1 <= tc
      }, s"h264: coeff_token $name values are TotalCoeff*4+T1s")
    }
    def forNc(nC: Int): Vlc =
      if (nC == -1) chromaDc
      else if (nC < 2) n0
      else if (nC < 4) n2
      else n4
  }

  /** The INJECTABLE table set behind H.264's appendix-data seams
    * (same class as [[graft.functions.Vp8.Profile]]; JSON:
    * [[graft.functions.CodecProfileJson]], CLI: [[graft.RunDecode]]):
    *
    *  - `cbpIntra`/`cbpInter` — Table 9-4's coded_block_pattern
    *    me(v) columns (codeNum → CBP), 48 entries each;
    *  - `coeffToken` — Table 9-5's codeword columns for nC < 8 and
    *    chroma DC (`None` keeps the stand-in: the nC ≥ 8 FLC for
    *    every context);
    *  - `totalZeros` — Tables 9-7/9-8, one [[Vlc]] per TotalCoeff
    *    1..15 over total_zeros values; `totalZerosCdc` — Table
    *    9-9(a)'s chroma-DC columns, TotalCoeff 1..3;
    *  - `runBefore` — Table 9-10, one [[Vlc]] per zerosLeft 1..6
    *    plus the > 6 column.
    *
    * The §9.2.2 level machinery (prefix/suffix escapes, adaptation
    * ladder) is normative spec TEXT and is never part of the
    * profile. */
  final case class Profile(cbpIntra: Array[Int], cbpInter: Array[Int],
      coeffToken: Option[CoeffTokenTables],
      totalZeros: Option[Vector[Vlc]],
      totalZerosCdc: Option[Vector[Vlc]],
      runBefore: Option[Vector[Vlc]],
      cabacRangeLps: Array[Array[Int]] = Cabac.RangeLpsStandIn,
      cabacTransLps: Array[Int] = Cabac.TransLpsStandIn,
      cabacCtxInit: Option[Array[Array[Int]]] = None,
      deblockAlpha: Array[Int] = DeblockAlphaStandIn,
      deblockBeta: Array[Int] = DeblockBetaStandIn,
      deblockTc0: Array[Array[Int]] = DeblockTc0StandIn) {
    require(deblockAlpha.length == 52 &&
      deblockAlpha.forall(v => v >= 0 && v <= 255),
      "h264: alpha table is 52 entries in [0, 255]")
    require(deblockBeta.length == 52 &&
      deblockBeta.forall(v => v >= 0 && v <= 255),
      "h264: beta table is 52 entries in [0, 255]")
    require(deblockTc0.length == 3 && deblockTc0.forall(r =>
      r.length == 52 && r.forall(v => v >= 0 && v <= 255)),
      "h264: tc0 is 3 bS rows of 52 entries")
    require(cabacRangeLps.length == 64 &&
      cabacRangeLps.forall(r => r.length == 4 &&
        r.forall(v => v >= 2 && v <= 240)),
      "h264: rangeTabLPS is 64 states x 4 quartiles in [2, 240]")
    require(cabacTransLps.length == 64 &&
      cabacTransLps.forall(v => v >= 0 && v <= 62),
      "h264: transIdxLPS is 64 states into [0, 62]")
    cabacCtxInit.foreach(t => require(t.length >= 277 &&
      t.forall(_.length == 2),
      "h264: cabac context init needs (m, n) pairs through ctx 276"))
    Seq("cbpIntra" -> cbpIntra, "cbpInter" -> cbpInter).foreach {
      case (name, a) =>
        require(a.length == 48 && a.distinct.length == 48 &&
          a.forall(v => v >= 0 && v < 48),
          s"h264: $name must be a 48-entry CBP permutation")
    }
    totalZeros.foreach { ts =>
      require(ts.length == 15, "h264: 15 total_zeros tables (tc 1..15)")
      ts.zipWithIndex.foreach { case (vlc, i) =>
        require(vlc.values.forall(v => v >= 0 && v <= 16 - (i + 1)),
          s"h264: total_zeros table tc=${i + 1} range")
      }
    }
    totalZerosCdc.foreach { ts =>
      require(ts.length == 3, "h264: 3 chroma-DC total_zeros tables")
      ts.zipWithIndex.foreach { case (vlc, i) =>
        require(vlc.values.forall(v => v >= 0 && v <= 4 - (i + 1)),
          s"h264: chroma-DC total_zeros table tc=${i + 1} range")
      }
    }
    runBefore.foreach { ts =>
      require(ts.length == 7,
        "h264: 7 run_before tables (zerosLeft 1..6, >6)")
      ts.zipWithIndex.foreach { case (vlc, i) =>
        val cap = if (i < 6) i + 1 else 14
        require(vlc.values.forall(v => v >= 0 && v <= cap),
          s"h264: run_before table zerosLeft=${i + 1} range")
      }
    }
  }
  /** STAND-IN §8.7 threshold tables (Tables 8-16/8-17 are printed
    * VALUE columns — appendix-class): α/β zero below index 16 (the
    * real tables' filter-off region, kept as structure) then
    * monotone; tc0 per bS 1..3, small and monotone. Any shared
    * values yield a consistent deblocker. */
  private[graft] val DeblockAlphaStandIn: Array[Int] =
    Array.tabulate(52)(i =>
      if (i < 16) 0 else math.min(255, (i - 14) * (i - 14) / 2 + 2))
  private[graft] val DeblockBetaStandIn: Array[Int] =
    Array.tabulate(52)(i => if (i < 16) 0 else math.min(18, (i - 12) / 2))
  private[graft] val DeblockTc0StandIn: Array[Array[Int]] =
    Array.tabulate(3, 52)((bs, i) =>
      if (i < 16) 0 else math.max(0, (i - 10) / 4 + bs))

  object Profile {
    /** The stand-in: historic fixed-length fields everywhere —
      * bit-identical to every m57-m66 stream. */
    val StandIn: Profile = Profile(CbpIntraMap, CbpInterMap,
      None, None, None, None)
  }

  /** §6.4.3 inverse luma4x4BlkIdx scan: block index → (bx, by) within
    * the macroblock (raster quads, z-order inside each quad). */
  private[graft] def blk4x4Pos(idx: Int): (Int, Int) = {
    val quad = idx / 4; val in = idx % 4
    (2 * (quad % 2) + (in % 2), 2 * (quad / 2) + (in / 2))
  }

  /** One parsed Intra_4x4 macroblock: the 16 luma prediction modes in
    * luma4x4BlkIdx order, how many rode the prev_intra4x4_pred_mode
    * flag, the chroma mode, and the CBP. */
  final case class IntraMb(lumaModes: Array[Int], prevCount: Int,
      chromaMode: Int, cbp: Int)

  /** §8.3.1.1's predicted mode for block `idx` of MB (mr, mc):
    * Min(modeA left, modeB above), DC (= 2) when a neighbor is
    * unavailable (frame edge). `grid` holds each coded MB's 16 modes
    * (every MB here is Intra_4x4, so neighbors always have modes). */
  private def predictedMode(grid: Array[Array[Int]], mbCols: Int,
      mr: Int, mc: Int, cur: Array[Int], idx: Int,
      minMb: Int = 0): Int = {
    val (bx, by) = blk4x4Pos(idx)
    def modeAt(r: Int, c: Int, x: Int, y: Int): Int =
      // DC when unavailable: frame edge OR an earlier slice [§8.3.1.1,
      // §6.4.8 — prediction never crosses the slice boundary]
      if (r < 0 || c < 0 || r * mbCols + c < minMb) 2
      else if (r == mr && c == mc)
        cur((y % 2) * 2 + (x % 2) + 4 * ((y / 2) * 2 + (x / 2)))
      else grid(r * mbCols + c)((y % 2) * 2 + (x % 2) +
        4 * ((y / 2) * 2 + (x / 2)))
    val a = // left neighbor 4x4
      if (bx > 0) modeAt(mr, mc, bx - 1, by)
      else modeAt(mr, mc - 1, 3, by)
    val b = // above neighbor 4x4
      if (by > 0) modeAt(mr, mc, bx, by - 1)
      else modeAt(mr - 1, mc, bx, 3)
    math.min(a, b)
  }

  /** Write a conformant-structure Intra_4x4 IDR I slice at the
    * PREDICTION-MODE level (§7.3.5 macroblock_layer / §7.4.5 /
    * §8.3.1): per MB mb_type = 0 (I_4x4), then for each of the 16
    * luma 4x4 blocks the prev_intra4x4_pred_mode_flag — set exactly
    * when the wanted mode equals §8.3.1.1's Min(A, B) prediction —
    * or the 3-bit rem_intra4x4_pred_mode (the < / ≥ split),
    * intra_chroma_pred_mode ue(v), and coded_block_pattern me(v)
    * forced to 0 (no residual — CAVLC coefficient tables stay behind
    * the seam; CBP 0 makes mb_qp_delta absent per §7.3.5, so the
    * slice is complete). `modes`: per MB, 16 luma modes (0..8) in
    * luma4x4BlkIdx order; `chromaModes`: per MB (0..3). */
  def writeIntraModeSlice(frameNum: Int, sps: Sps, pps: Pps,
      modes: Vector[Array[Int]], chromaModes: Vector[Int],
      idrPicId: Int = 0,
      prof: Profile = Profile.StandIn): Array[Byte] = {
    require(!pps.cabac, "h264: CABAC slice writing unsupported")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    require(modes.length == mbCols * mbRows &&
      chromaModes.length == mbCols * mbRows,
      s"h264: ${modes.length} mode sets for a ${mbCols}x$mbRows grid")
    require(modes.forall(m => m.length == 16 &&
      m.forall(v => v >= 0 && v <= 8)), "h264: luma modes are 0..8")
    require(chromaModes.forall(m => m >= 0 && m <= 3),
      "h264: chroma modes are 0..3")
    val w = new BitW
    w.ue(0) // first_mb_in_slice
    w.ue(7) // slice_type: I, all slices I (Table 7-6)
    w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1) // dec_ref_pic_marking (IDR)
    w.se(0) // slice_qp_delta
    val grid = Array.fill(mbCols * mbRows)(new Array[Int](16))
    val cbpZeroCode = prof.cbpIntra.indexOf(0)
    var mb = 0
    while (mb < mbCols * mbRows) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      w.ue(0) // mb_type 0 = Intra_4x4 (Table 7-11)
      var idx = 0
      while (idx < 16) {
        val want = modes(mb)(idx)
        val pred = predictedMode(grid, mbCols, mr, mc, grid(mb), idx)
        if (want == pred) w.u(1L, 1) // prev_intra4x4_pred_mode_flag
        else {
          w.u(0L, 1)
          // rem < pred codes rem; rem ≥ pred codes rem − 1 [§8.3.1.1]
          w.u((if (want < pred) want else want - 1).toLong, 3)
        }
        grid(mb)(idx) = want
        idx += 1
      }
      w.ue(chromaModes(mb).toLong) // intra_chroma_pred_mode
      w.ue(cbpZeroCode.toLong)     // coded_block_pattern me(v) → 0
      // CBP 0 and not I_16x16 → no mb_qp_delta, no residual [§7.3.5]
      mb += 1
    }
    w.stop()
    nal(3, NalIdr, w.toRbsp)
  }

  /** Parse an Intra_4x4 mode-level slice back: per MB the 16 decoded
    * luma modes (through the §8.3.1.1 prediction recursion), the
    * prev-flag count, chroma mode and CBP. Every deviation from the
    * subset (other mb_types, nonzero CBP) fails loudly by name. */
  def parseIntraModeSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      prof: Profile = Profile.StandIn)
      : (SliceInfo, Vector[IntraMb]) = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI,
      s"h264: intra-mode decode on slice_type ${info.sliceType}")
    val grid = Array.fill(mbCols * mbRows)(new Array[Int](16))
    val out = Vector.newBuilder[IntraMb]
    var mb = 0
    while (mb < mbCols * mbRows) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      val mbType = r.ue().toInt
      require(mbType == 0,
        s"h264: mb_type $mbType at MB $mb — only Intra_4x4 is " +
          "mode-decodable here (I_16x16 always codes a CAVLC DC block)")
      var prev = 0
      var idx = 0
      while (idx < 16) {
        val pred = predictedMode(grid, mbCols, mr, mc, grid(mb), idx)
        val mode =
          if (r.u(1) == 1L) { prev += 1; pred }
          else {
            val rem = r.u(3).toInt
            if (rem < pred) rem else rem + 1
          }
        grid(mb)(idx) = mode
        idx += 1
      }
      val chroma = r.ue().toInt
      require(chroma <= 3, s"h264: intra_chroma_pred_mode $chroma")
      val cbpCode = r.ue().toInt
      require(cbpCode < 48, s"h264: CBP codeNum $cbpCode")
      val cbp = prof.cbpIntra(cbpCode)
      require(cbp == 0,
        s"h264: CBP $cbp at MB $mb — coded residual needs the CAVLC " +
          "coefficient tables (behind the seam)")
      out += IntraMb(grid(mb).clone(), prev, chroma, cbp)
      mb += 1
    }
    require(r.u(1) == 1, "h264: missing rbsp_stop_one_bit after slice data")
    (info, out.result())
  }

  // ---- CAVLC residual blocks (§9.2) -------------------------------------------

  /** §8.5.6 / Table 8-13 4x4 zig-zag scan: scan position → raster
    * index within the block. */
  val ZigZag4x4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** CAVLC residual-block codec (§9.2) at the STRUCTURE level. What
    * is implemented EXACTLY from normative text:
    *  - trailing_ones_sign_flag bits (§9.2.2), one per trailing ±1
    *    (up to 3, scanned from the highest frequency down);
    *  - the §9.2.2.1 level_prefix unary code (zeros then a one) and
    *    the WHOLE §9.2.2.2 level machinery: suffixLength starting at
    *    1 when TotalCoeff > 10 && TrailingOnes < 3 else 0, the
    *    prefix-14 (4-bit) and prefix-15 (12-bit) suffix escapes with
    *    the +15 adjustment at suffixLength 0, the +2 shift on the
    *    first level when TrailingOnes < 3, the even/odd sign mapping,
    *    and the |level| > 3·2^(suffixLength−1) adaptation ladder
    *    capped at 6;
    *  - the §9.2.3/§9.2.4 zero-run placement: total_zeros bounded by
    *    maxNumCoeff − TotalCoeff, run_before per coefficient while
    *    zerosLeft > 0, the last coefficient absorbing the rest;
    *  - the §9.2.1 nC CONTEXT derivation (callers compute it via
    *    [[lumaNc]]): nA/nB = TotalCoeff of the left/above 4x4 block,
    *    (nA + nB + 1) >> 1 when both available, the single available
    *    one else, 0 at frame corners; −1 selects the chroma-DC table.
    *
    * Seams (codeWORD tables are appendix-class data): coeff_token
    * uses Table 9-5's REAL nC ≥ 8 fixed-length column for every nC —
    * 6 bits, (TotalCoeff−1)·4 + TrailingOnes, with 3 marking (0,0) —
    * so the field is spec-exact in the nC ≥ 8 regime and a stand-in
    * elsewhere (the nC VALUE still rides the §9.2.1 derivation and is
    * oracle-pinned); total_zeros is a 4-bit field; run_before a
    * 4-bit field (real tables: 9-7/9-8 and 9-10). */
  object Cavlc {

    /** (TotalCoeff, TrailingOnes, totalZeros) of a scan-space block. */
    def stats(coeff: Array[Int]): (Int, Int, Int) = {
      val last = coeff.lastIndexWhere(_ != 0)
      if (last < 0) (0, 0, 0)
      else {
        val nz = coeff.count(_ != 0)
        var t1 = 0
        var k = last
        while (k >= 0 && t1 < 3 && math.abs(coeff(k)) == 1) {
          t1 += 1
          k -= 1
          while (k >= 0 && coeff(k) == 0) k -= 1
        }
        (nz, t1, last + 1 - nz)
      }
    }

    /** Encode one residual block; `coeff` is scan-space (zig-zag
      * applied by the caller), length = maxNumCoeff. The nC argument
      * is accepted for interface fidelity (the real coeff_token
      * table switches on it). */
    def writeBlock(w: BitW, coeff: Array[Int], nC: Int,
        p: Profile = Profile.StandIn): Unit = {
      val (tc, t1, tz) = stats(coeff)
      require(tc <= coeff.length, "h264: TotalCoeff overflow")
      p.coeffToken match {
        case Some(ct) if nC < 8 =>
          // injected Table 9-5 column for this nC context
          ct.forNc(nC).write(w.u, tc * 4 + t1)
        case _ =>
          // stand-in: the nC ≥ 8 FLC of Table 9-5 for every context
          w.u((if (tc == 0) 3L else ((tc - 1) << 2 | t1).toLong), 6)
      }
      if (tc == 0) return
      // levels, highest frequency first
      val nzPos = coeff.indices.filter(coeff(_) != 0).reverse
      nzPos.take(t1).foreach(p =>
        w.u(if (coeff(p) < 0) 1L else 0L, 1))
      var suffixLength = if (tc > 10 && t1 < 3) 1 else 0
      nzPos.drop(t1).zipWithIndex.foreach { case (p, i) =>
        val level = coeff(p)
        var levelCode =
          if (level > 0) 2 * level - 2 else -2 * level - 1
        if (i == 0 && t1 < 3) levelCode -= 2
        require(levelCode >= 0, s"h264: level $level out of range")
        if (suffixLength == 0) {
          if (levelCode < 14) { w.u(0L, levelCode); w.u(1L, 1) }
          else if (levelCode < 30) {
            w.u(0L, 14); w.u(1L, 1)
            w.u((levelCode - 14).toLong, 4)
          } else {
            require(levelCode - 30 < 4096,
              s"h264: levelCode $levelCode beyond the prefix-15 escape")
            w.u(0L, 15); w.u(1L, 1)
            w.u((levelCode - 30).toLong, 12)
          }
        } else {
          val prefix = levelCode >> suffixLength
          if (prefix < 15) {
            w.u(0L, prefix); w.u(1L, 1)
            w.u((levelCode & ((1 << suffixLength) - 1)).toLong,
              suffixLength)
          } else {
            val rest = levelCode - (15 << suffixLength)
            require(rest < 4096,
              s"h264: levelCode $levelCode beyond the prefix-15 escape")
            w.u(0L, 15); w.u(1L, 1)
            w.u(rest.toLong, 12)
          }
        }
        if (suffixLength == 0) suffixLength = 1
        if (math.abs(level) > (3 << (suffixLength - 1)) &&
          suffixLength < 6) suffixLength += 1
      }
      // total_zeros, bounded by maxNumCoeff − TotalCoeff
      if (tc < coeff.length) {
        val tzTab =
          if (nC == -1) p.totalZerosCdc.map(_(tc - 1))
          else p.totalZeros.map(_(tc - 1))
        tzTab match {
          case Some(vlc) => vlc.write(w.u, tz)
          case None =>
            require(tz < 16,
              s"h264: total_zeros $tz beyond the 4-bit seam")
            w.u(tz.toLong, 4)
        }
      }
      // run_before per coefficient (highest first) while zeros remain
      var zerosLeft = tz
      nzPos.init.foreach { pos =>
        if (zerosLeft > 0) {
          val below = nzPos(nzPos.indexOf(pos) + 1)
          val run = pos - below - 1
          require(run <= zerosLeft && run < 16,
            s"h264: run_before $run with $zerosLeft zeros left")
          p.runBefore.map(_(math.min(zerosLeft, 7) - 1)) match {
            case Some(vlc) => vlc.write(w.u, run)
            case None => w.u(run.toLong, 4)
          }
          zerosLeft -= run
        }
      }
    }

    /** Decode one residual block into scan space (§9.2.2–§9.2.4). */
    def readBlock(r: BitR, nC: Int, maxNumCoeff: Int,
        p: Profile = Profile.StandIn): Array[Int] = {
      val (tc, t1) = p.coeffToken match {
        case Some(ct) if nC < 8 =>
          val v = ct.forNc(nC).read(n => r.u(n))
          (v >> 2, v & 3)
        case _ =>
          val token = r.u(6).toInt
          if (token == 3) (0, 0) else ((token >> 2) + 1, token & 3)
      }
      require(t1 <= tc && t1 <= 3 && tc <= maxNumCoeff,
        s"h264: coeff_token ($tc, $t1) beyond $maxNumCoeff coefficients")
      val coeff = new Array[Int](maxNumCoeff)
      if (tc == 0) return coeff
      val levels = new Array[Int](tc)
      (0 until t1).foreach(i =>
        levels(i) = if (r.u(1) == 1L) -1 else 1)
      var suffixLength = if (tc > 10 && t1 < 3) 1 else 0
      (t1 until tc).foreach { i =>
        var prefix = 0
        while (r.u(1) == 0L) {
          prefix += 1
          require(prefix <= 15,
            "h264: level_prefix beyond 15 (deep escape unsupported)")
        }
        val suffixSize =
          if (prefix == 14 && suffixLength == 0) 4
          else if (prefix >= 15) 12
          else suffixLength
        var levelCode = (math.min(15, prefix) << suffixLength) +
          (if (suffixSize > 0) r.u(suffixSize).toInt else 0)
        if (prefix >= 15 && suffixLength == 0) levelCode += 15
        if (i == t1 && t1 < 3) levelCode += 2
        levels(i) =
          if (levelCode % 2 == 0) (levelCode + 2) >> 1
          else -((levelCode + 1) >> 1)
        if (suffixLength == 0) suffixLength = 1
        if (math.abs(levels(i)) > (3 << (suffixLength - 1)) &&
          suffixLength < 6) suffixLength += 1
      }
      val tz =
        if (tc >= maxNumCoeff) 0
        else {
          val tzTab =
            if (nC == -1) p.totalZerosCdc.map(_(tc - 1))
            else p.totalZeros.map(_(tc - 1))
          tzTab match {
            case Some(vlc) => vlc.read(n => r.u(n))
            case None => r.u(4).toInt
          }
        }
      require(tz <= maxNumCoeff - tc,
        s"h264: total_zeros $tz with $tc coefficients")
      var zerosLeft = tz
      var pos = tc + tz - 1
      (0 until tc).foreach { i =>
        require(pos >= 0, "h264: run placement underflow")
        coeff(pos) = levels(i)
        if (i < tc - 1) {
          val run = if (zerosLeft > 0) {
            val rb = p.runBefore.map(_(math.min(zerosLeft, 7) - 1)) match {
              case Some(vlc) => vlc.read(n => r.u(n))
              case None => r.u(4).toInt
            }
            require(rb <= zerosLeft,
              s"h264: run_before $rb with $zerosLeft zeros left")
            rb
          } else 0
          zerosLeft -= run
          pos -= 1 + run
        }
      }
      coeff
    }
  }

  /** §9.2.1 nC over a per-block TotalCoeff grid: `tcAt(r, c, x, y)`
    * returns the coeff count of block (x, y) of MB (r, c), 0 for
    * uncoded blocks; availability ends at the frame edge AND at the
    * slice boundary (§6.4.8 — macroblocks before `minMb`, i.e. in an
    * earlier slice of the same picture, are unavailable). */
  private[graft] def lumaNc(tcAt: (Int, Int, Int, Int) => Int,
      blocksPerRow: Int, mr: Int, mc: Int, bx: Int, by: Int,
      mbCols: Int, mbRows: Int, minMb: Int = 0): Int = {
    val bpr = blocksPerRow
    def at(gr: Int, gc: Int, x: Int, y: Int): Option[Int] =
      if (gr < 0 || gc < 0 || gr >= mbRows || gc >= mbCols ||
        gr * mbCols + gc < minMb) None
      else Some(tcAt(gr, gc, x, y))
    val nA = if (bx > 0) at(mr, mc, bx - 1, by)
      else at(mr, mc - 1, bpr - 1, by)
    val nB = if (by > 0) at(mr, mc, bx, by - 1)
      else at(mr - 1, mc, bx, bpr - 1)
    (nA, nB) match {
      case (Some(a), Some(b)) => (a + b + 1) >> 1
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => 0
    }
  }

  /** One parsed Intra_4x4 + CAVLC-residual macroblock: prediction
    * layer (m57's) plus the residual — per-4x4 luma coefficient
    * blocks in scan space (empty for uncoded), chroma DC (4 coeffs
    * per component), chroma AC (15 coeffs per block, blocks 0–3 per
    * component; empty unless cbpChroma = 2), the decoded
    * mb_qp_delta, and the per-block nC values the §9.2.1 derivation
    * produced. */
  final case class CodedMb(intra: IntraMb, qpDelta: Int,
      luma: Vector[Array[Int]], ncLuma: Vector[Int],
      chromaDc: Vector[Array[Int]], chromaAc: Vector[Vector[Array[Int]]])

  /** Write a conformant-structure Intra_4x4 I slice WITH residuals
    * (§7.3.5 + §7.4.5 + §9.2): mode layer as [[writeIntraModeSlice]],
    * then coded_block_pattern me(v) from the caller's CBP, mb_qp_delta
    * when CBP ≠ 0, and the §7.3.5.3 residual walk — luma 4x4 blocks
    * in 8x8-quad order for set cbpLuma bits, chroma DC for both
    * components when cbpChroma ≠ 0 (nC = −1), chroma AC ×4 per
    * component when cbpChroma = 2. `lumaCoeff(mb)(blk)`: scan-space,
    * length 16, empty for blocks whose quad bit is clear. */
  def writeIntraCodedSlice(frameNum: Int, sps: Sps, pps: Pps,
      modes: Vector[Array[Int]], chromaModes: Vector[Int],
      cbps: Vector[Int], qpDeltas: Vector[Int],
      lumaCoeff: Vector[Vector[Array[Int]]],
      chromaDc: Vector[Vector[Array[Int]]],
      chromaAc: Vector[Vector[Vector[Array[Int]]]],
      idrPicId: Int = 0, firstMb: Int = 0, mbCount: Int = -1,
      prof: Profile = Profile.StandIn)
      : Array[Byte] = {
    require(!pps.cabac, "h264: CABAC slice writing unsupported")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    // a slice covers [firstMb, firstMb + count) of the picture; the
    // per-MB data vectors are SLICE-local (index mb - firstMb), and
    // prediction/nC availability stops at firstMb (§6.4.8)
    val count = if (mbCount < 0) nMb - firstMb else mbCount
    require(firstMb >= 0 && count > 0 && firstMb + count <= nMb,
      s"h264: slice [$firstMb, ${firstMb + count}) beyond $nMb MBs")
    require(modes.length == count && chromaModes.length == count &&
      cbps.length == count && qpDeltas.length == count &&
      lumaCoeff.length == count && chromaDc.length == count &&
      chromaAc.length == count, "h264: per-MB shapes")
    require(cbps.forall(c => c >= 0 && c < 48 && (c >> 4) <= 2),
      "h264: CBP is cbpLuma | cbpChroma<<4, cbpChroma ≤ 2")
    val w = new BitW
    w.ue(firstMb.toLong); w.ue(7); w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1)
    w.se(0) // slice_qp_delta
    val grid = Array.fill(nMb)(new Array[Int](16))
    // TotalCoeff grids for the nC derivation
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    var mb = firstMb
    while (mb < firstMb + count) {
      val di = mb - firstMb
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      w.ue(0) // mb_type Intra_4x4
      var idx = 0
      while (idx < 16) {
        val want = modes(di)(idx)
        val pred = predictedMode(grid, mbCols, mr, mc, grid(mb), idx,
          minMb = firstMb)
        if (want == pred) w.u(1L, 1)
        else { w.u(0L, 1); w.u((if (want < pred) want else want - 1).toLong, 3) }
        grid(mb)(idx) = want
        idx += 1
      }
      w.ue(chromaModes(di).toLong)
      val cbp = cbps(di)
      w.ue(prof.cbpIntra.indexOf(cbp).toLong)
      if (cbp != 0) {
        w.se(qpDeltas(di).toLong) // mb_qp_delta [§7.3.5]
        // luma residual: 8x8 quads, 4x4 blocks inside [§7.3.5.3]
        (0 until 4).foreach { q =>
          if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
            val blk = q * 4 + sub
            val coeff = lumaCoeff(di)(blk)
            require(coeff.length == 16, s"h264: luma block $blk shape")
            val (bx, by) = blk4x4Pos(blk)
            val nc = lumaNc((r2, c2, x, y) =>
              tcLuma(r2 * mbCols + c2)(y * 4 + x),
              4, mr, mc, bx, by, mbCols, mbRows, minMb = firstMb)
            Cavlc.writeBlock(w, coeff, nc, prof)
            tcLuma(mb)(by * 4 + bx) = Cavlc.stats(coeff)._1
          } else (0 until 4).foreach { sub =>
            val blk = q * 4 + sub
            require(lumaCoeff(di)(blk).isEmpty,
              s"h264: coefficients on an uncoded quad at blk $blk")
          }
        }
        val cbpChroma = cbp >> 4
        if (cbpChroma != 0) (0 until 2).foreach { comp =>
          val dc = chromaDc(di)(comp)
          require(dc.length == 4, "h264: chroma DC is 4 coefficients")
          Cavlc.writeBlock(w, dc, -1, prof) // §9.2.1: nC = −1 (4:2:0 DC)
        }
        if (cbpChroma == 2) (0 until 2).foreach { comp =>
          (0 until 4).foreach { blk =>
            val ac = chromaAc(di)(comp)(blk)
            require(ac.length == 15, "h264: chroma AC is 15 coefficients")
            val nc = lumaNc((r2, c2, x, y) =>
              tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
              2, mr, mc, blk % 2, blk / 2, mbCols, mbRows,
              minMb = firstMb)
            Cavlc.writeBlock(w, ac, nc, prof)
            tcCa(comp)(mb)(blk) = Cavlc.stats(ac)._1
          }
        }
      } else {
        require(lumaCoeff(di).forall(_.isEmpty) &&
          chromaDc(di).forall(_.isEmpty),
          "h264: coefficients with CBP 0")
      }
      mb += 1
    }
    w.stop()
    nal(3, NalIdr, w.toRbsp)
  }

  /** Parse an Intra_4x4 + residual slice back ([[CodedMb]] per MB).
    * The §9.2.1 nC each block decoded under is returned so callers
    * can pin the context derivation. */
  def parseIntraCodedSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      mbCount: Int = -1,
      prof: Profile = Profile.StandIn): (SliceInfo, Vector[CodedMb]) = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI,
      s"h264: intra decode on slice_type ${info.sliceType}")
    // the slice covers [first_mb_in_slice, first + count); prediction
    // and nC availability never reach before firstMb (sect 6.4.8)
    val firstMb = info.firstMb
    val count = if (mbCount < 0) nMb - firstMb else mbCount
    require(firstMb + count <= nMb,
      s"h264: slice [$firstMb, ${firstMb + count}) beyond $nMb MBs")
    val grid = Array.fill(nMb)(new Array[Int](16))
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    val out = Vector.newBuilder[CodedMb]
    var mb = firstMb
    while (mb < firstMb + count) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      val mbType = r.ue().toInt
      require(mbType == 0,
        s"h264: mb_type $mbType at MB $mb — Intra_4x4 only")
      var prev = 0
      var idx = 0
      while (idx < 16) {
        val pred = predictedMode(grid, mbCols, mr, mc, grid(mb), idx,
          minMb = firstMb)
        val mode =
          if (r.u(1) == 1L) { prev += 1; pred }
          else { val rem = r.u(3).toInt; if (rem < pred) rem else rem + 1 }
        grid(mb)(idx) = mode
        idx += 1
      }
      val chroma = r.ue().toInt
      require(chroma <= 3, s"h264: intra_chroma_pred_mode $chroma")
      val cbpCode = r.ue().toInt
      require(cbpCode < 48, s"h264: CBP codeNum $cbpCode")
      val cbp = prof.cbpIntra(cbpCode)
      require((cbp >> 4) <= 2, s"h264: cbpChroma ${cbp >> 4}")
      var qpd = 0
      val luma = Array.fill(16)(Array.empty[Int])
      val ncL = new Array[Int](16)
      val cdc = Vector.newBuilder[Array[Int]]
      val cac = Array.fill(2, 4)(Array.empty[Int])
      if (cbp != 0) {
        qpd = r.se().toInt
        (0 until 4).foreach { q =>
          if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
            val blk = q * 4 + sub
            val (bx, by) = blk4x4Pos(blk)
            val nc = lumaNc((r2, c2, x, y) =>
              tcLuma(r2 * mbCols + c2)(y * 4 + x),
              4, mr, mc, bx, by, mbCols, mbRows, minMb = firstMb)
            val coeff = Cavlc.readBlock(r, nc, 16, prof)
            luma(blk) = coeff
            ncL(blk) = nc
            tcLuma(mb)(by * 4 + bx) = Cavlc.stats(coeff)._1
          }
        }
        val cbpChroma = cbp >> 4
        if (cbpChroma != 0) (0 until 2).foreach(_ =>
          cdc += Cavlc.readBlock(r, -1, 4, prof))
        if (cbpChroma == 2) (0 until 2).foreach { comp =>
          (0 until 4).foreach { blk =>
            val nc = lumaNc((r2, c2, x, y) =>
              tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
              2, mr, mc, blk % 2, blk / 2, mbCols, mbRows,
              minMb = firstMb)
            val ac = Cavlc.readBlock(r, nc, 15, prof)
            cac(comp)(blk) = ac
            tcCa(comp)(mb)(blk) = Cavlc.stats(ac)._1
          }
        }
      }
      out += CodedMb(IntraMb(grid(mb).clone(), prev, chroma, cbp),
        qpd, luma.toVector, ncL.toVector, cdc.result(),
        cac.map(_.toVector).toVector)
      mb += 1
    }
    require(r.u(1) == 1, "h264: missing rbsp_stop_one_bit after slice data")
    (info, out.result())
  }

  // ---- P slices at the macroblock level (§7.3.4, §7.4.5 Table 7-13) ----------

  /** STAND-IN coded_block_pattern me(v) mapping for INTER macroblocks
    * (Table 9-4's inter column is appendix data, like
    * [[CbpIntraMap]]): a deterministic 48-entry permutation. */
  private[graft] val CbpInterMap: Array[Int] = {
    val a = Array.tabulate(48)(i => (i * 19 + 5) % 48)
    require(a.distinct.length == 48, "h264: inter CBP stand-in")
    a
  }

  /** One parsed P-slice macroblock: P_Skip or P_L0_16x16 with its
    * §7.3.5.1 motion-vector difference, inter CBP, mb_qp_delta under
    * CBP ≠ 0, and the m62-shaped residual (luma 4x4 blocks + chroma
    * DC/AC) with the §9.2.1 nC per coded block — a SKIPPED MB's
    * blocks count 0 toward its neighbors' contexts. */
  final case class PMb(skipped: Boolean, mvdX: Int, mvdY: Int,
      cbp: Int, qpDelta: Int, luma: Vector[Array[Int]],
      ncLuma: Vector[Int], chromaDc: Vector[Array[Int]],
      chromaAc: Vector[Vector[Array[Int]]])

  /** Write a P slice (§7.3.4 slice_data with CAVLC): mb_skip_run
    * ue(v) before every coded macroblock and once for a trailing skip
    * run; each coded MB is P_L0_16x16 (mb_type 0, Table 7-13) with
    * mvd_l0 se(v)×2 (ref_idx_l0 absent — one active reference),
    * coded_block_pattern me(v) through the inter column seam,
    * mb_qp_delta when CBP ≠ 0, then the §7.3.5.3 residual walk
    * exactly as [[writeIntraCodedSlice]]'s. */
  def writePSlice(frameNum: Int, sps: Sps, pps: Pps,
      skipped: Vector[Boolean], mvd: Vector[(Int, Int)],
      cbps: Vector[Int], qpDeltas: Vector[Int],
      lumaCoeff: Vector[Vector[Array[Int]]],
      chromaDc: Vector[Vector[Array[Int]]],
      chromaAc: Vector[Vector[Vector[Array[Int]]]],
      prof: Profile = Profile.StandIn): Array[Byte] = {
    require(!pps.cabac, "h264: CABAC slice writing unsupported")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    require(skipped.length == nMb && mvd.length == nMb &&
      cbps.length == nMb && qpDeltas.length == nMb &&
      lumaCoeff.length == nMb && chromaDc.length == nMb &&
      chromaAc.length == nMb, "h264: per-MB shapes")
    val w = new BitW
    w.ue(0) // first_mb_in_slice
    w.ue(5) // slice_type: P, all slices P (Table 7-6)
    w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1) // num_ref_idx_active_override_flag
    w.u(0L, 1) // ref_pic_list_modification_flag_l0
    w.u(0L, 1) // adaptive_ref_pic_marking_mode_flag (refIdc != 0)
    w.se(0)    // slice_qp_delta
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    var run = 0
    var mb = 0
    while (mb < nMb) {
      if (skipped(mb)) {
        require(cbps(mb) == 0 && mvd(mb) == ((0, 0)) &&
          lumaCoeff(mb).forall(_.isEmpty),
          s"h264: P_Skip MB $mb carries data")
        run += 1
      } else {
        w.ue(run.toLong) // mb_skip_run
        run = 0
        val (mr, mc) = (mb / mbCols, mb % mbCols)
        w.ue(0) // mb_type 0 = P_L0_16x16 (Table 7-13)
        w.se(mvd(mb)._1.toLong) // mvd_l0[0][0][0]
        w.se(mvd(mb)._2.toLong) // mvd_l0[0][0][1]
        val cbp = cbps(mb)
        require(cbp >= 0 && cbp < 48 && (cbp >> 4) <= 2,
          "h264: CBP is cbpLuma | cbpChroma<<4")
        w.ue(prof.cbpInter.indexOf(cbp).toLong)
        if (cbp != 0) {
          w.se(qpDeltas(mb).toLong)
          (0 until 4).foreach { q =>
            if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
              val blk = q * 4 + sub
              val coeff = lumaCoeff(mb)(blk)
              require(coeff.length == 16, s"h264: luma blk $blk shape")
              val (bx, by) = blk4x4Pos(blk)
              val nc = lumaNc((r2, c2, x, y) =>
                tcLuma(r2 * mbCols + c2)(y * 4 + x),
                4, mr, mc, bx, by, mbCols, mbRows)
              Cavlc.writeBlock(w, coeff, nc, prof)
              tcLuma(mb)(by * 4 + bx) = Cavlc.stats(coeff)._1
            } else (0 until 4).foreach { sub =>
              require(lumaCoeff(mb)(q * 4 + sub).isEmpty,
                s"h264: coefficients on an uncoded quad")
            }
          }
          val cbpChroma = cbp >> 4
          if (cbpChroma != 0) (0 until 2).foreach { comp =>
            val dc = chromaDc(mb)(comp)
            require(dc.length == 4, "h264: chroma DC shape")
            Cavlc.writeBlock(w, dc, -1, prof)
          }
          if (cbpChroma == 2) (0 until 2).foreach { comp =>
            (0 until 4).foreach { blk =>
              val ac = chromaAc(mb)(comp)(blk)
              require(ac.length == 15, "h264: chroma AC shape")
              val nc = lumaNc((r2, c2, x, y) =>
                tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
                2, mr, mc, blk % 2, blk / 2, mbCols, mbRows)
              Cavlc.writeBlock(w, ac, nc, prof)
              tcCa(comp)(mb)(blk) = Cavlc.stats(ac)._1
            }
          }
        } else {
          require(lumaCoeff(mb).forall(_.isEmpty),
            "h264: coefficients with CBP 0")
        }
      }
      mb += 1
    }
    if (run > 0) w.ue(run.toLong) // trailing skip run [§7.3.4]
    w.stop()
    nal(2, NalSlice, w.toRbsp)
  }

  /** Parse a P slice back ([[PMb]] per macroblock). */
  def parsePSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      prof: Profile = Profile.StandIn)
      : (SliceInfo, Vector[PMb]) = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice, s"h264: NAL $nt is not a non-IDR slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isP, s"h264: P decode on slice_type ${info.sliceType}")
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    val out = new Array[PMb](nMb)
    val emptyMb = PMb(skipped = true, 0, 0, 0, 0,
      Vector.fill(16)(Array.empty[Int]), Vector.fill(16)(0),
      Vector.empty, Vector.fill(2)(Vector.fill(4)(Array.empty[Int])))
    var mb = 0
    while (mb < nMb) {
      val run = r.ue().toInt
      require(mb + run <= nMb,
        s"h264: mb_skip_run $run overruns the slice at MB $mb")
      (0 until run).foreach { _ => out(mb) = emptyMb; mb += 1 }
      if (mb < nMb) {
        val (mr, mc) = (mb / mbCols, mb % mbCols)
        val mbType = r.ue().toInt
        require(mbType == 0,
          s"h264: P mb_type $mbType at MB $mb — P_L0_16x16 only " +
            "(sub-partitions and intra-in-P are out of this leg)")
        val mvdX = r.se().toInt
        val mvdY = r.se().toInt
        val cbpCode = r.ue().toInt
        require(cbpCode < 48, s"h264: CBP codeNum $cbpCode")
        val cbp = prof.cbpInter(cbpCode)
        require((cbp >> 4) <= 2, s"h264: cbpChroma ${cbp >> 4}")
        var qpd = 0
        val luma = Array.fill(16)(Array.empty[Int])
        val ncL = new Array[Int](16)
        val cdc = Vector.newBuilder[Array[Int]]
        val cac = Array.fill(2, 4)(Array.empty[Int])
        if (cbp != 0) {
          qpd = r.se().toInt
          (0 until 4).foreach { q =>
            if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
              val blk = q * 4 + sub
              val (bx, by) = blk4x4Pos(blk)
              val nc = lumaNc((r2, c2, x, y) =>
                tcLuma(r2 * mbCols + c2)(y * 4 + x),
                4, mr, mc, bx, by, mbCols, mbRows)
              val coeff = Cavlc.readBlock(r, nc, 16, prof)
              luma(blk) = coeff
              ncL(blk) = nc
              tcLuma(mb)(by * 4 + bx) = Cavlc.stats(coeff)._1
            }
          }
          val cbpChroma = cbp >> 4
          if (cbpChroma != 0) (0 until 2).foreach(_ =>
            cdc += Cavlc.readBlock(r, -1, 4, prof))
          if (cbpChroma == 2) (0 until 2).foreach { comp =>
            (0 until 4).foreach { blk =>
              val nc = lumaNc((r2, c2, x, y) =>
                tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
                2, mr, mc, blk % 2, blk / 2, mbCols, mbRows)
              val b = Cavlc.readBlock(r, nc, 15, prof)
              cac(comp)(blk) = b
              tcCa(comp)(mb)(blk) = Cavlc.stats(b)._1
            }
          }
        }
        out(mb) = PMb(skipped = false, mvdX, mvdY, cbp, qpd,
          luma.toVector, ncL.toVector, cdc.result(),
          cac.map(_.toVector).toVector)
        mb += 1
      }
    }
    require(r.u(1) == 1, "h264: missing rbsp_stop_one_bit after slice data")
    (info, out.toVector)
  }

  // ---- I_16x16 macroblocks (§7.4.5 Table 7-11, §8.3.3, §7.3.5.3) --------------

  /** Table 7-11's I_16x16 mb_type packing: mb_type 1..24 encodes
    * (Intra16x16PredMode 0..3, CodedBlockPatternChroma 0..2,
    * CodedBlockPatternLuma ∈ {0, 15}) as
    * mb_type = 1 + pred + 4·cbpChroma + 12·[cbpLuma = 15]. */
  def i16MbType(predMode: Int, cbpChroma: Int, acCoded: Boolean): Int = {
    require(predMode >= 0 && predMode <= 3, "h264: I_16x16 pred mode")
    require(cbpChroma >= 0 && cbpChroma <= 2, "h264: cbpChroma")
    1 + predMode + 4 * cbpChroma + (if (acCoded) 12 else 0)
  }
  def i16Unpack(mbType: Int): (Int, Int, Boolean) = {
    require(mbType >= 1 && mbType <= 24, s"h264: mb_type $mbType")
    val v = mbType - 1
    ((v % 12) % 4, (v % 12) / 4, v >= 12)
  }

  /** One parsed I_16x16 macroblock: prediction mode, chroma CBP and
    * the AC flag from mb_type, mb_qp_delta (ALWAYS present for
    * I_16x16, §7.3.5), the 16-coefficient luma DC block, the 16 AC
    * blocks (15 coeffs each, §7.3.5.3's Intra16x16ACLevel — empty
    * when cbpLuma = 0), chroma DC/AC, and the DC block's §9.2.1 nC. */
  final case class I16Mb(predMode: Int, cbpChroma: Int,
      acCoded: Boolean, qpDelta: Int, lumaDc: Array[Int],
      lumaAc: Vector[Array[Int]], ncDc: Int,
      chromaDc: Vector[Array[Int]], chromaAc: Vector[Vector[Array[Int]]],
      chromaMode: Int = 0)

  /** Write an I_16x16 IDR slice (§7.3.5): mb_type 1..24 carries the
    * prediction mode / CBP packing, intra_chroma_pred_mode follows,
    * mb_qp_delta is unconditional, then the §7.3.5.3 residual —
    * Intra16x16DCLevel (16 coeffs, luma-neighbor nC where the
    * TotalCoeff of an I_16x16 neighbor block counts DC+AC per
    * §9.2.1's block-level bookkeeping: this leg tracks the DC block's
    * count on all 16 positions), then 15-coefficient AC blocks for
    * every 4x4 when cbpLuma = 15, then chroma. */
  def writeI16Slice(frameNum: Int, sps: Sps, pps: Pps,
      predModes: Vector[Int], chromaModes: Vector[Int],
      cbpChromas: Vector[Int], qpDeltas: Vector[Int],
      lumaDc: Vector[Array[Int]], lumaAc: Vector[Vector[Array[Int]]],
      chromaDc: Vector[Vector[Array[Int]]],
      chromaAc: Vector[Vector[Vector[Array[Int]]]],
      idrPicId: Int = 0,
      prof: Profile = Profile.StandIn): Array[Byte] = {
    require(!pps.cabac, "h264: CABAC slice writing unsupported")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    require(predModes.length == nMb && chromaModes.length == nMb &&
      cbpChromas.length == nMb && qpDeltas.length == nMb &&
      lumaDc.length == nMb && lumaAc.length == nMb &&
      chromaDc.length == nMb && chromaAc.length == nMb,
      "h264: per-MB shapes")
    val w = new BitW
    w.ue(0); w.ue(7); w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1)
    w.se(0)
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    var mb = 0
    while (mb < nMb) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      val ac = lumaAc(mb).nonEmpty
      w.ue(i16MbType(predModes(mb), cbpChromas(mb), ac).toLong)
      w.ue(chromaModes(mb).toLong)
      w.se(qpDeltas(mb).toLong) // always present for I_16x16 [§7.3.5]
      // Intra16x16DCLevel: nC from the luma neighbor grid [§9.2.1]
      val dc = lumaDc(mb)
      require(dc.length == 16, "h264: luma DC is 16 coefficients")
      val ncDc = lumaNc((r2, c2, x, y) =>
        tcLuma(r2 * mbCols + c2)(y * 4 + x),
        4, mr, mc, 0, 0, mbCols, mbRows)
      Cavlc.writeBlock(w, dc, ncDc, prof)
      val dcTc = Cavlc.stats(dc)._1
      if (ac) {
        require(lumaAc(mb).length == 16 &&
          lumaAc(mb).forall(_.length == 15),
          "h264: 16 AC blocks of 15 coefficients")
        (0 until 16).foreach { blk =>
          val (bx, by) = blk4x4Pos(blk)
          val nc = lumaNc((r2, c2, x, y) =>
            tcLuma(r2 * mbCols + c2)(y * 4 + x),
            4, mr, mc, bx, by, mbCols, mbRows)
          Cavlc.writeBlock(w, lumaAc(mb)(blk), nc, prof)
          tcLuma(mb)(by * 4 + bx) = Cavlc.stats(lumaAc(mb)(blk))._1 +
            (if (blk == 0) dcTc else 0)
        }
      } else {
        require(lumaAc(mb).isEmpty, "h264: AC blocks with cbpLuma 0")
        tcLuma(mb)(0) = dcTc
      }
      val cbpChroma = cbpChromas(mb)
      if (cbpChroma != 0) (0 until 2).foreach { comp =>
        val cdc = chromaDc(mb)(comp)
        require(cdc.length == 4, "h264: chroma DC is 4 coefficients")
        Cavlc.writeBlock(w, cdc, -1, prof)
      }
      if (cbpChroma == 2) (0 until 2).foreach { comp =>
        (0 until 4).foreach { blk =>
          val cac = chromaAc(mb)(comp)(blk)
          require(cac.length == 15, "h264: chroma AC is 15 coefficients")
          val nc = lumaNc((r2, c2, x, y) =>
            tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
            2, mr, mc, blk % 2, blk / 2, mbCols, mbRows)
          Cavlc.writeBlock(w, cac, nc, prof)
          tcCa(comp)(mb)(blk) = Cavlc.stats(cac)._1
        }
      }
      mb += 1
    }
    w.stop()
    nal(3, NalIdr, w.toRbsp)
  }

  /** Parse an I_16x16 slice back ([[I16Mb]] per MB). */
  def parseI16Slice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      prof: Profile = Profile.StandIn)
      : (SliceInfo, Vector[I16Mb]) = {
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val nMb = mbCols * mbRows
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI, s"h264: I_16x16 decode on ${info.sliceType}")
    val tcLuma = Array.fill(nMb)(new Array[Int](16))
    val tcCa = Array.fill(2, nMb)(new Array[Int](4))
    val out = Vector.newBuilder[I16Mb]
    var mb = 0
    while (mb < nMb) {
      val (mr, mc) = (mb / mbCols, mb % mbCols)
      val mbType = r.ue().toInt
      require(mbType >= 1 && mbType <= 24,
        s"h264: mb_type $mbType at MB $mb — I_16x16 only here")
      val (pred, cbpChroma, ac) = i16Unpack(mbType)
      val chroma = r.ue().toInt
      require(chroma <= 3, s"h264: intra_chroma_pred_mode $chroma")
      val qpd = r.se().toInt
      val ncDc = lumaNc((r2, c2, x, y) =>
        tcLuma(r2 * mbCols + c2)(y * 4 + x),
        4, mr, mc, 0, 0, mbCols, mbRows)
      val dc = Cavlc.readBlock(r, ncDc, 16, prof)
      val dcTc = Cavlc.stats(dc)._1
      val acBlocks =
        if (ac) Vector.tabulate(16) { blk =>
          val (bx, by) = blk4x4Pos(blk)
          val nc = lumaNc((r2, c2, x, y) =>
            tcLuma(r2 * mbCols + c2)(y * 4 + x),
            4, mr, mc, bx, by, mbCols, mbRows)
          val b = Cavlc.readBlock(r, nc, 15, prof)
          tcLuma(mb)(by * 4 + bx) = Cavlc.stats(b)._1 +
            (if (blk == 0) dcTc else 0)
          b
        }
        else { tcLuma(mb)(0) = dcTc; Vector.empty[Array[Int]] }
      val cdc = Vector.newBuilder[Array[Int]]
      if (cbpChroma != 0) (0 until 2).foreach(_ =>
        cdc += Cavlc.readBlock(r, -1, 4, prof))
      val cac = Array.fill(2, 4)(Array.empty[Int])
      if (cbpChroma == 2) (0 until 2).foreach { comp =>
        (0 until 4).foreach { blk =>
          val nc = lumaNc((r2, c2, x, y) =>
            tcCa(comp)(r2 * mbCols + c2)(y * 2 + x),
            2, mr, mc, blk % 2, blk / 2, mbCols, mbRows)
          val b = Cavlc.readBlock(r, nc, 15, prof)
          cac(comp)(blk) = b
          tcCa(comp)(mb)(blk) = Cavlc.stats(b)._1
        }
      }
      out += I16Mb(pred, cbpChroma, ac, qpd, dc, acBlocks, ncDc,
        cdc.result(), cac.map(_.toVector).toVector, chroma)
      mb += 1
    }
    require(r.u(1) == 1, "h264: missing rbsp_stop_one_bit after slice data")
    (info, out.result())
  }

  // ---- stream splitting -------------------------------------------------------

  /** Split an Annex-B byte stream on 3- or 4-byte start codes.
    * Emulation prevention guarantees no false boundary inside a NAL. */
  // ---- CABAC I slices (§7.3.4/§7.3.5 under §9.3) ---------------------------

  /** One CABAC-slice macroblock: Intra_4x4 at the prediction-mode
    * level (CBP 0, like m57's CAVLC twin) or I_PCM (raw planes; the
    * arithmetic engine flushes, byte-aligns and re-initializes
    * around it per §7.3.5/§9.3.1.2 while the CONTEXT states
    * persist). */
  sealed trait CabacMb extends Serializable
  final case class CabacI4(lumaModes: Array[Int], chromaMode: Int)
      extends CabacMb
  final case class CabacPcm(y: Array[Byte], u: Array[Byte],
      v: Array[Byte]) extends CabacMb

  /** mb_type condTermFlag (§9.3.3.1.1.3): available and not I_NxN. */
  private def mbTypeInc(kinds: Array[Int], mbCols: Int, mb: Int)
      : Int = {
    val (mr, mc) = (mb / mbCols, mb % mbCols)
    def cond(ok: Boolean, n: Int): Int =
      if (ok && kinds(n) != 0) 1 else 0
    cond(mc > 0, mb - 1) + cond(mr > 0, mb - mbCols)
  }

  /** intra_chroma_pred_mode bin-0 ctxIdxInc (§9.3.3.1.1.8):
    * available, not I_PCM, and chroma mode != 0. */
  private def chromaModeInc(kinds: Array[Int], cmodes: Array[Int],
      mbCols: Int, mb: Int): Int = {
    val (mr, mc) = (mb / mbCols, mb % mbCols)
    def cond(ok: Boolean, n: Int): Int =
      if (ok && kinds(n) == 0 && cmodes(n) != 0) 1 else 0
    cond(mc > 0, mb - 1) + cond(mr > 0, mb - mbCols)
  }

  /** coded_block_pattern luma bin ctxIdxInc (§9.3.3.1.1.4): the
    * neighbor 8x8 block's cbp BIT — condTerm 1 when that bit is 0
    * (unavailable → 0; I_PCM carries cbp 0x2F-equivalent → bit 1 →
    * condTerm 0). b8 is the luma8x8BlkIdx (raster quads). */
  private def cbpLumaInc(cbpL: Array[Int], mbCols: Int, mb: Int,
      b8: Int, sofar: Int): Int = {
    val (mr, mc) = (mb / mbCols, mb % mbCols)
    val (qx, qy) = (b8 % 2, b8 / 2)
    def bit(v: Int, b: Int): Int = (v >> b) & 1
    // left neighbor 8x8
    val a =
      if (qx == 1) if (bit(sofar, qy * 2) == 0) 1 else 0
      else if (mc > 0) if (bit(cbpL(mb - 1), qy * 2 + 1) == 0) 1 else 0
      else 0
    // top neighbor 8x8
    val b =
      if (qy == 1) if (bit(sofar, qx) == 0) 1 else 0
      else if (mr > 0) if (bit(cbpL(mb - mbCols), 2 + qx) == 0) 1 else 0
      else 0
    a + 2 * b
  }

  /** coded_block_pattern chroma bin-0 ctxIdxInc (§9.3.3.1.1.4):
    * condTerm 1 when the neighbor's cbpChroma != 0 (I_PCM → 2). */
  private def cbpChromaInc(cbpC: Array[Int], mbCols: Int, mb: Int)
      : Int = {
    val (mr, mc) = (mb / mbCols, mb % mbCols)
    def cond(ok: Boolean, n: Int): Int =
      if (ok && cbpC(n) != 0) 1 else 0
    cond(mc > 0, mb - 1) + 2 * cond(mr > 0, mb - mbCols)
  }

  /** Write a CABAC I slice: Intra_4x4 mode-level macroblocks (CBP 0)
    * and I_PCM macroblocks through the real §9.3 arithmetic coder —
    * cabac_alignment_one_bit, mb_type's (3 + inc) context + the ctx
    * 276 terminate bin for I_PCM, prev/rem intra mode bins (ctx
    * 68/69, FL MSB-first), intra_chroma_pred_mode TU (ctx 64+inc,
    * then 67), coded_block_pattern bins (ctx 73+inc / 77+inc), the
    * per-MB end_of_slice_flag terminate, and the I_PCM
    * flush → align → raw planes → engine re-init cycle. */
  def writeCabacIntraSlice(frameNum: Int, sps: Sps, pps: Pps,
      mbs: Vector[CabacMb], idrPicId: Int = 0,
      prof: Profile = Profile.StandIn): Array[Byte] = {
    require(pps.cabac, "h264: CABAC slice on a CAVLC PPS")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    require(mbs.length == mbCols * mbRows,
      s"h264: ${mbs.length} MBs for a ${mbCols}x$mbRows grid")
    val w = new BitW
    w.ue(0); w.ue(7); w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1)
    w.se(0) // slice_qp_delta
    w.align1() // cabac_alignment_one_bit(s) [§7.3.4]
    val qP = pps.picInitQp
    val ctxs = new Cabac.Ctxs(qP, prof)
    var enc = new Cabac.Enc(w, prof, ctxs)
    val kinds = new Array[Int](mbs.length) // 0 = I4, 1 = PCM
    val cmodes = new Array[Int](mbs.length)
    val cbpL = new Array[Int](mbs.length)
    val cbpC = new Array[Int](mbs.length)
    val grid = Array.fill(mbs.length)(Array.fill(16)(2))
    mbs.zipWithIndex.foreach { case (mb, i) =>
      val (mr, mc) = (i / mbCols, i % mbCols)
      mb match {
        case CabacPcm(y, u, v) =>
          require(y.length == 256 && u.length == 64 && v.length == 64,
            "h264: I_PCM planes are 256 + 64 + 64 bytes")
          kinds(i) = 1; cbpL(i) = 15; cbpC(i) = 2; cmodes(i) = 0
          enc.decision(3 + mbTypeInc(kinds, mbCols, i), 1)
          enc.terminate(1) // ctx 276 bin: I_PCM, flushes the engine
          w.align() // pcm_alignment_zero_bit
          y.foreach(b => w.u(b & 0xffL, 8))
          u.foreach(b => w.u(b & 0xffL, 8))
          v.foreach(b => w.u(b & 0xffL, 8))
          enc = new Cabac.Enc(w, prof, ctxs) // §9.3.1.2 re-init
        case CabacI4(modes, chromaMode) =>
          require(modes.length == 16 &&
            modes.forall(m => m >= 0 && m <= 8), "h264: luma modes")
          require(chromaMode >= 0 && chromaMode <= 3, "h264: chroma mode")
          kinds(i) = 0; cmodes(i) = chromaMode
          enc.decision(3 + mbTypeInc(kinds, mbCols, i), 0)
          var idx = 0
          while (idx < 16) {
            val want = modes(idx)
            val pred = predictedMode(grid, mbCols, mr, mc, grid(i), idx)
            if (want == pred) enc.decision(68, 1)
            else {
              enc.decision(68, 0)
              val rem = if (want < pred) want else want - 1
              enc.decision(69, (rem >> 2) & 1)
              enc.decision(69, (rem >> 1) & 1)
              enc.decision(69, rem & 1)
            }
            grid(i)(idx) = want
            idx += 1
          }
          // intra_chroma_pred_mode: TU cMax 3
          val cInc = chromaModeInc(kinds, cmodes, mbCols, i)
          if (chromaMode == 0) enc.decision(64 + cInc, 0)
          else {
            enc.decision(64 + cInc, 1)
            if (chromaMode == 1) enc.decision(67, 0)
            else {
              enc.decision(67, 1)
              enc.decision(67, if (chromaMode == 2) 0 else 1)
            }
          }
          // coded_block_pattern = 0: 4 luma bins + chroma bin 0
          val sofar = 0
          (0 until 4).foreach { b8 =>
            enc.decision(73 + cbpLumaInc(cbpL, mbCols, i, b8, sofar), 0)
          }
          enc.decision(77 + cbpChromaInc(cbpC, mbCols, i), 0)
        case _: CabacCoded => throw new IllegalArgumentException(
          "h264: a CabacCoded MB in an I4/PCM-only CABAC slice")
      }
      // end_of_slice_flag
      if (i == mbs.length - 1) enc.terminate(1)
      else enc.terminate(0)
    }
    w.align()
    nal(3, NalIdr, w.toRbsp)
  }

  /** Parse a CABAC I slice written by [[writeCabacIntraSlice]] back
    * (the decoder half of the §9.3 engine); every subset boundary —
    * I_16x16 mb_types, nonzero CBP — fails loudly by name. */
  def parseCabacIntraSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      prof: Profile = Profile.StandIn): (SliceInfo, Vector[CabacMb]) = {
    require(pps.cabac, "h264: CABAC parse on a CAVLC PPS")
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr,
      s"h264: NAL $nt is not a coded slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI, s"h264: CABAC intra parse on ${info.sliceType}")
    r.alignSkip1() // cabac_alignment_one_bit(s)
    val qP = pps.picInitQp + info.qpDelta
    val ctxs = new Cabac.Ctxs(qP, prof)
    var dec = new Cabac.Dec(r, prof, ctxs)
    val nMb = mbCols * mbRows
    val kinds = new Array[Int](nMb)
    val cmodes = new Array[Int](nMb)
    val cbpL = new Array[Int](nMb)
    val cbpC = new Array[Int](nMb)
    val grid = Array.fill(nMb)(Array.fill(16)(2))
    val out = Vector.newBuilder[CabacMb]
    var i = 0
    var ended = false
    while (i < nMb) {
      require(!ended, s"h264: end_of_slice before MB $i")
      val (mr, mc) = (i / mbCols, i % mbCols)
      val b0 = dec.decision(3 + mbTypeInc(kinds, mbCols, i))
      if (b0 == 1) {
        require(dec.terminate() == 1,
          s"h264: I_16x16 mb_type at MB $i — only I_4x4/I_PCM " +
            "decode in this CABAC leg")
        kinds(i) = 1; cbpL(i) = 15; cbpC(i) = 2
        r.alignSkip0() // pcm_alignment_zero_bit
        val y = Array.tabulate(256)(_ => r.u(8).toByte)
        val u = Array.tabulate(64)(_ => r.u(8).toByte)
        val v = Array.tabulate(64)(_ => r.u(8).toByte)
        out += CabacPcm(y, u, v)
        dec = new Cabac.Dec(r, prof, ctxs)
      } else {
        kinds(i) = 0
        var idx = 0
        while (idx < 16) {
          val pred = predictedMode(grid, mbCols, mr, mc, grid(i), idx)
          val mode =
            if (dec.decision(68) == 1) pred
            else {
              val rem = (dec.decision(69) << 2) |
                (dec.decision(69) << 1) | dec.decision(69)
              require(rem < 8, s"h264: rem mode $rem")
              if (rem < pred) rem else rem + 1
            }
          grid(i)(idx) = mode
          idx += 1
        }
        val cInc = chromaModeInc(kinds, cmodes, mbCols, i)
        val chroma =
          if (dec.decision(64 + cInc) == 0) 0
          else if (dec.decision(67) == 0) 1
          else if (dec.decision(67) == 0) 2
          else 3
        cmodes(i) = chroma
        var sofar = 0
        (0 until 4).foreach { b8 =>
          val bit = dec.decision(73 + cbpLumaInc(cbpL, mbCols, i, b8,
            sofar))
          require(bit == 0,
            s"h264: coded CBP at MB $i — residual CABAC (significance " +
              "maps) is out of this leg")
          sofar |= bit << b8
        }
        require(dec.decision(77 + cbpChromaInc(cbpC, mbCols, i)) == 0,
          s"h264: chroma CBP at MB $i out of this leg")
        out += CabacI4(grid(i).clone(), chroma)
      }
      val eos = dec.terminate()
      ended = eos == 1
      require((i == nMb - 1) == ended,
        s"h264: end_of_slice_flag $eos at MB $i of $nMb")
      i += 1
    }
    (info, out.result())
  }

  /** One CABAC-coded Intra_4x4 macroblock WITH residuals (the
    * §9.3.3.1.1.9 / §9.3.2.3 coefficient syntax m69's mode-level leg
    * declared out of scope): scan-space luma 4×4 blocks (empty for
    * uncoded), chroma DC (4) and AC (15) per component, and
    * mb_qp_delta. */
  final case class CabacCoded(lumaModes: Array[Int], chromaMode: Int,
      cbp: Int, qpDelta: Int, luma: Vector[Array[Int]],
      chromaDc: Vector[Array[Int]], chromaAc: Vector[Vector[Array[Int]]])
      extends CabacMb

  /** The engine's context-index layout for the residual syntax —
    * the COUNT and SHARING structure is §9.3.3.1.1.9's (per block
    * category, per scan position for significance, GT1-driven level
    * contexts); the exact index packing below is this engine's
    * documented convention (Table 9-11's printed assignments are
    * value data, and the per-context (m, n) seam is injectable by
    * index either way). Categories: 0 I16-DC, 1 I16-AC, 2 luma 4×4,
    * 3 chroma DC, 4 chroma AC. */
  private object ResCtx {
    val MaxCoeff = Array(16, 15, 16, 4, 15)
    private val sigBase = MaxCoeff.map(_ - 1).scanLeft(0)(_ + _)
    def codedBlockFlag(cat: Int, inc: Int): Int = 85 + 4 * cat + inc
    def sig(cat: Int, i: Int): Int = 105 + sigBase(cat) + i
    def last(cat: Int, i: Int): Int = 166 + sigBase(cat) + i
    def level(cat: Int, inc: Int): Int =
      227 + (if (cat == 4) 39 else 10 * cat) + inc
    val QpDelta = 60 // ..63
  }

  /** Encode one residual block (§9.3.2.3's ordering: coded_block_flag,
    * the significance map with the implied last position, then levels
    * highest-frequency first under the UEG0 binarization with the
    * Eq1/Gt1 context machine, signs bypass). `coeff` is scan-space of
    * length MaxCoeff(cat). `cbfInc` = condTermA + 2·condTermB over
    * same-category neighbors. */
  private def encodeResBlock(enc: Cabac.Enc, cat: Int, coeff: Array[Int],
      cbfInc: Int): Unit = {
    val n = ResCtx.MaxCoeff(cat)
    require(coeff.length == n, s"h264: cat $cat wants $n coefficients")
    val any = coeff.exists(_ != 0)
    enc.decision(ResCtx.codedBlockFlag(cat, cbfInc), if (any) 1 else 0)
    if (!any) return
    val lastIdx = coeff.lastIndexWhere(_ != 0)
    var i = 0
    var break = false
    while (i < n - 1 && !break) {
      val sig = coeff(i) != 0
      enc.decision(ResCtx.sig(cat, i), if (sig) 1 else 0)
      if (sig) {
        val isLast = i == lastIdx
        enc.decision(ResCtx.last(cat, i), if (isLast) 1 else 0)
        if (isLast) break = true
      }
      i += 1
    }
    // levels, highest frequency first, with the Eq1/Gt1 machine
    var eq1 = 0; var gt1 = 0
    var k = lastIdx
    while (k >= 0) {
      val v = coeff(k)
      if (v != 0) {
        val absM1 = math.abs(v) - 1
        val binCtx0 = ResCtx.level(cat,
          if (gt1 != 0) 0 else math.min(4, 1 + eq1))
        val binCtxN = ResCtx.level(cat, 5 + math.min(4, gt1))
        // UEG0: TU prefix to 14, then EG0 suffix in bypass
        val prefix = math.min(absM1, 14)
        var b = 0
        while (b < prefix) {
          enc.decision(if (b == 0) binCtx0 else binCtxN, 1); b += 1
        }
        if (prefix < 14) enc.decision(
          if (prefix == 0) binCtx0 else binCtxN, 0)
        else if (absM1 >= 14) {
          // EG0 over absM1 − 14
          val value = absM1 - 14 + 1
          val bits = 31 - Integer.numberOfLeadingZeros(value)
          (0 until bits).foreach(_ => enc.bypass(1))
          enc.bypass(0)
          var j = bits - 1
          while (j >= 0) { enc.bypass((value >> j) & 1); j -= 1 }
        }
        enc.bypass(if (v < 0) 1 else 0)
        if (math.abs(v) == 1) eq1 += 1 else gt1 += 1
      }
      k -= 1
    }
  }

  private def decodeResBlock(dec: Cabac.Dec, cat: Int,
      cbfInc: Int): Array[Int] = {
    val n = ResCtx.MaxCoeff(cat)
    val coeff = new Array[Int](n)
    if (dec.decision(ResCtx.codedBlockFlag(cat, cbfInc)) == 0)
      return coeff
    val sig = new Array[Boolean](n)
    var lastIdx = n - 1
    var i = 0
    var break = false
    while (i < n - 1 && !break) {
      if (dec.decision(ResCtx.sig(cat, i)) == 1) {
        sig(i) = true
        if (dec.decision(ResCtx.last(cat, i)) == 1) {
          lastIdx = i; break = true
        }
      }
      i += 1
    }
    if (!break) sig(n - 1) = true // the implied last position
    else sig(lastIdx) = true
    var eq1 = 0; var gt1 = 0
    var k = lastIdx
    while (k >= 0) {
      if (sig(k)) {
        val binCtx0 = ResCtx.level(cat,
          if (gt1 != 0) 0 else math.min(4, 1 + eq1))
        val binCtxN = ResCtx.level(cat, 5 + math.min(4, gt1))
        var prefix = 0
        var more = dec.decision(binCtx0) == 1
        while (more && prefix < 14) {
          prefix += 1
          if (prefix < 14) more = dec.decision(binCtxN) == 1
          else more = false
        }
        var absM1 = prefix
        if (prefix == 14) {
          var bits = 0
          while (dec.bypass() == 1) {
            bits += 1; require(bits < 31, "h264: EG0 runaway")
          }
          var value = 1
          (0 until bits).foreach(_ => value = (value << 1) | dec.bypass())
          absM1 = 14 + value - 1
        }
        val neg = dec.bypass() == 1
        val v = if (neg) -(absM1 + 1) else absM1 + 1
        coeff(k) = v
        if (absM1 == 0) eq1 += 1 else gt1 += 1
      }
      k -= 1
    }
    coeff
  }

  /** Write a CABAC I slice WITH residuals: [[writeCabacIntraSlice]]'s
    * mode layer, a caller CBP through the §9.3.3.1.1.4 bin contexts
    * (chroma bin 1 at ctx 81+inc when cbpChroma = 2), mb_qp_delta's
    * mapped-unary binarization (ctx 60..63, bin 0 conditioned on the
    * PREVIOUS macroblock's delta), and the §7.3.5.3 residual walk
    * through [[encodeResBlock]] with per-block coded_block_flag
    * neighbor contexts. I_PCM macroblocks compose unchanged. */
  def writeCabacCodedSlice(frameNum: Int, sps: Sps, pps: Pps,
      mbs: Vector[CabacMb], idrPicId: Int = 0,
      prof: Profile = Profile.StandIn): Array[Byte] = {
    require(pps.cabac, "h264: CABAC slice on a CAVLC PPS")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    require(mbs.length == mbCols * mbRows, "h264: MB grid shape")
    val w = new BitW
    w.ue(0); w.ue(7); w.ue(pps.ppsId.toLong)
    w.u(frameNum.toLong, sps.log2MaxFrameNum)
    w.ue(idrPicId.toLong)
    if (sps.picOrderCntType == 0) w.u(0L, sps.log2MaxPocLsb)
    w.u(0L, 1); w.u(0L, 1)
    w.se(0)
    w.align1()
    val qP = pps.picInitQp
    val ctxs = new Cabac.Ctxs(qP, prof)
    var enc = new Cabac.Enc(w, prof, ctxs)
    val nMb = mbs.length
    val kinds = new Array[Int](nMb)
    val cmodes = new Array[Int](nMb)
    val cbpL = new Array[Int](nMb)
    val cbpC = new Array[Int](nMb)
    val grid = Array.fill(nMb)(Array.fill(16)(2))
    // per-block coded_block_flag grids for the neighbor contexts
    val cbfLuma = Array.fill(nMb)(new Array[Int](16))
    val cbfCdc = Array.fill(2, nMb)(0)
    val cbfCac = Array.fill(2, nMb)(new Array[Int](4))
    var prevQpDelta = 0
    mbs.zipWithIndex.foreach { case (mb, i) =>
      val (mr, mc) = (i / mbCols, i % mbCols)
      mb match {
        case CabacPcm(y2, u2, v2) =>
          kinds(i) = 1; cbpL(i) = 15; cbpC(i) = 2
          // I_PCM neighbors count as coded everywhere [§9.3.3.1.1.9]
          java.util.Arrays.fill(cbfLuma(i), 1)
          cbfCdc(0)(i) = 1; cbfCdc(1)(i) = 1
          java.util.Arrays.fill(cbfCac(0)(i), 1)
          java.util.Arrays.fill(cbfCac(1)(i), 1)
          enc.decision(3 + mbTypeInc(kinds, mbCols, i), 1)
          enc.terminate(1)
          w.align()
          y2.foreach(b => w.u(b & 0xffL, 8))
          u2.foreach(b => w.u(b & 0xffL, 8))
          v2.foreach(b => w.u(b & 0xffL, 8))
          enc = new Cabac.Enc(w, prof, ctxs)
          prevQpDelta = 0 // I_PCM resets the delta chain [§7.4.5]
        case CabacCoded(modes, chromaMode, cbp, qpDelta, luma, cdc, cac) =>
          require(cbp >= 0 && cbp < 48 && (cbp >> 4) <= 2, "h264: CBP")
          kinds(i) = 0; cmodes(i) = chromaMode
          enc.decision(3 + mbTypeInc(kinds, mbCols, i), 0)
          var idx = 0
          while (idx < 16) {
            val want = modes(idx)
            val pred = predictedMode(grid, mbCols, mr, mc, grid(i), idx)
            if (want == pred) enc.decision(68, 1)
            else {
              enc.decision(68, 0)
              val rem = if (want < pred) want else want - 1
              enc.decision(69, (rem >> 2) & 1)
              enc.decision(69, (rem >> 1) & 1)
              enc.decision(69, rem & 1)
            }
            grid(i)(idx) = want
            idx += 1
          }
          val cInc = chromaModeInc(kinds, cmodes, mbCols, i)
          if (chromaMode == 0) enc.decision(64 + cInc, 0)
          else {
            enc.decision(64 + cInc, 1)
            if (chromaMode == 1) enc.decision(67, 0)
            else {
              enc.decision(67, 1)
              enc.decision(67, if (chromaMode == 2) 0 else 1)
            }
          }
          // coded_block_pattern
          var sofar = 0
          (0 until 4).foreach { b8 =>
            val bit = (cbp >> b8) & 1
            enc.decision(73 + cbpLumaInc(cbpL, mbCols, i, b8, sofar), bit)
            sofar |= bit << b8
          }
          cbpL(i) = cbp & 15
          val cbpChroma = cbp >> 4
          enc.decision(77 + cbpChromaInc(cbpC, mbCols, i),
            if (cbpChroma > 0) 1 else 0)
          if (cbpChroma > 0)
            enc.decision(81 + cbpChroma2Inc(cbpC, mbCols, i),
              if (cbpChroma == 2) 1 else 0)
          cbpC(i) = cbpChroma
          if (cbp != 0) {
            // mb_qp_delta: mapped unary, bin 0 conditioned on the
            // previous MB's delta [§9.3.3.1.1.5]
            val mapped = if (qpDelta > 0) 2 * qpDelta - 1
              else -2 * qpDelta
            val bin0Ctx = ResCtx.QpDelta +
              (if (prevQpDelta != 0) 1 else 0)
            if (mapped == 0) enc.decision(bin0Ctx, 0)
            else {
              enc.decision(bin0Ctx, 1)
              var b = 1
              while (b < mapped) {
                enc.decision(
                  if (b == 1) ResCtx.QpDelta + 2 else ResCtx.QpDelta + 3,
                  1)
                b += 1
              }
              enc.decision(
                if (mapped == 1) ResCtx.QpDelta + 2 else ResCtx.QpDelta + 3,
                0)
            }
            prevQpDelta = qpDelta
            // luma residual, 8x8-quad order [§7.3.5.3]
            (0 until 4).foreach { q =>
              if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
                val blk = q * 4 + sub
                val (bx, by) = blk4x4Pos(blk)
                val inc = cbfNbrInc((r2, c2, x, y2) =>
                  cbfLuma(r2 * mbCols + c2)(y2 * 4 + x),
                  mbCols, mbRows, mr, mc, bx, by, 4)
                val coeff = luma(blk)
                encodeResBlock(enc, 2, coeff, inc)
                cbfLuma(i)(by * 4 + bx) =
                  if (coeff.exists(_ != 0)) 1 else 0
              } else (0 until 4).foreach { sub =>
                require(luma(q * 4 + sub).forall(_ == 0),
                  "h264: coefficients on an uncoded quad")
              }
            }
            if (cbpChroma != 0) (0 until 2).foreach { comp =>
              val inc = cbfMbInc(cbfCdc(comp), mbCols, mr, mc)
              encodeResBlock(enc, 3, cdc(comp), inc)
              cbfCdc(comp)(i) =
                if (cdc(comp).exists(_ != 0)) 1 else 0
            }
            if (cbpChroma == 2) (0 until 2).foreach { comp =>
              (0 until 4).foreach { blk =>
                val (bx, by) = (blk % 2, blk / 2)
                val inc = cbfNbrInc((r2, c2, x, y2) =>
                  cbfCac(comp)(r2 * mbCols + c2)(y2 * 2 + x),
                  mbCols, mbRows, mr, mc, bx, by, 2)
                encodeResBlock(enc, 4, cac(comp)(blk), inc)
                cbfCac(comp)(i)(by * 2 + bx) =
                  if (cac(comp)(blk).exists(_ != 0)) 1 else 0
              }
            }
          } else prevQpDelta = 0 // no delta coded → chain resets
        case _: CabacI4 => throw new IllegalArgumentException(
          "h264: a CabacI4 MB in a coded CABAC slice (use CabacCoded)")
      }
      if (i == nMb - 1) enc.terminate(1) else enc.terminate(0)
    }
    w.align()
    nal(3, NalIdr, w.toRbsp)
  }

  /** coded_block_flag neighbor context over a per-MB `bpr`×`bpr`
    * block grid (§9.3.3.1.1.9): condTermA + 2·condTermB; a missing
    * neighbor counts 1 for intra macroblocks. */
  private def cbfNbrInc(at: (Int, Int, Int, Int) => Int,
      mbCols: Int, mbRows: Int, mr: Int, mc: Int, bx: Int, by: Int,
      bpr: Int): Int = {
    def get(gr: Int, gc: Int, x: Int, y: Int): Int =
      if (gr < 0 || gc < 0 || gr >= mbRows || gc >= mbCols) 1 // intra
      else at(gr, gc, x, y)
    val a = if (bx > 0) get(mr, mc, bx - 1, by)
      else get(mr, mc - 1, bpr - 1, by)
    val b = if (by > 0) get(mr, mc, bx, by - 1)
      else get(mr - 1, mc, bx, bpr - 1)
    a + 2 * b
  }
  /** Same for the per-MB chroma DC flag. */
  private def cbfMbInc(flags: Array[Int], mbCols: Int, mr: Int,
      mc: Int): Int = {
    def get(gr: Int, gc: Int): Int =
      if (gr < 0 || gc < 0) 1 else flags(gr * mbCols + gc)
    get(mr, mc - 1) + 2 * get(mr - 1, mc)
  }
  /** chroma CBP bin 1 ctxIdxInc: neighbors with cbpChroma == 2. */
  private def cbpChroma2Inc(cbpC: Array[Int], mbCols: Int, mb: Int)
      : Int = {
    val (mr, mc) = (mb / mbCols, mb % mbCols)
    def cond(ok: Boolean, n: Int): Int =
      if (ok && cbpC(n) == 2) 1 else 0
    cond(mc > 0, mb - 1) + 2 * cond(mr > 0, mb - mbCols)
  }

  /** Parse a CABAC I slice with residuals back (inverse of
    * [[writeCabacCodedSlice]]); I_16x16 mb_types stay loud. */
  def parseCabacCodedSlice(nalBytes: Array[Byte], sps: Sps, pps: Pps,
      prof: Profile = Profile.StandIn): (SliceInfo, Vector[CabacMb]) = {
    require(pps.cabac, "h264: CABAC parse on a CAVLC PPS")
    val nt = nalType(nalBytes)
    require(nt == NalSlice || nt == NalIdr, "h264: not a coded slice")
    val mbCols = sps.width / 16; val mbRows = sps.height / 16
    val r = new BitR(stripEmulation(nalBytes, 1, nalBytes.length))
    val info = readSliceHeader(r, nt, nalRefIdc(nalBytes), sps, pps)
    require(info.isI, "h264: CABAC intra parse on a non-I slice")
    r.alignSkip1()
    val qP = pps.picInitQp + info.qpDelta
    val ctxs = new Cabac.Ctxs(qP, prof)
    var dec = new Cabac.Dec(r, prof, ctxs)
    val nMb = mbCols * mbRows
    val kinds = new Array[Int](nMb)
    val cmodes = new Array[Int](nMb)
    val cbpL = new Array[Int](nMb)
    val cbpC = new Array[Int](nMb)
    val grid = Array.fill(nMb)(Array.fill(16)(2))
    val cbfLuma = Array.fill(nMb)(new Array[Int](16))
    val cbfCdc = Array.fill(2, nMb)(0)
    val cbfCac = Array.fill(2, nMb)(new Array[Int](4))
    var prevQpDelta = 0
    val out = Vector.newBuilder[CabacMb]
    var i = 0
    var ended = false
    while (i < nMb) {
      require(!ended, s"h264: end_of_slice before MB $i")
      val (mr, mc) = (i / mbCols, i % mbCols)
      if (dec.decision(3 + mbTypeInc(kinds, mbCols, i)) == 1) {
        require(dec.terminate() == 1,
          s"h264: I_16x16 mb_type at MB $i out of this leg")
        kinds(i) = 1; cbpL(i) = 15; cbpC(i) = 2
        java.util.Arrays.fill(cbfLuma(i), 1)
        cbfCdc(0)(i) = 1; cbfCdc(1)(i) = 1
        java.util.Arrays.fill(cbfCac(0)(i), 1)
        java.util.Arrays.fill(cbfCac(1)(i), 1)
        r.alignSkip0()
        val y2 = Array.tabulate(256)(_ => r.u(8).toByte)
        val u2 = Array.tabulate(64)(_ => r.u(8).toByte)
        val v2 = Array.tabulate(64)(_ => r.u(8).toByte)
        out += CabacPcm(y2, u2, v2)
        dec = new Cabac.Dec(r, prof, ctxs)
        prevQpDelta = 0
      } else {
        kinds(i) = 0
        var idx = 0
        while (idx < 16) {
          val pred = predictedMode(grid, mbCols, mr, mc, grid(i), idx)
          val mode =
            if (dec.decision(68) == 1) pred
            else {
              val rem = (dec.decision(69) << 2) |
                (dec.decision(69) << 1) | dec.decision(69)
              if (rem < pred) rem else rem + 1
            }
          grid(i)(idx) = mode
          idx += 1
        }
        val cInc = chromaModeInc(kinds, cmodes, mbCols, i)
        val chroma =
          if (dec.decision(64 + cInc) == 0) 0
          else if (dec.decision(67) == 0) 1
          else if (dec.decision(67) == 0) 2
          else 3
        cmodes(i) = chroma
        var cbp = 0
        (0 until 4).foreach { b8 =>
          val bit = dec.decision(73 + cbpLumaInc(cbpL, mbCols, i, b8,
            cbp))
          cbp |= bit << b8
        }
        cbpL(i) = cbp
        var cbpChroma = 0
        if (dec.decision(77 + cbpChromaInc(cbpC, mbCols, i)) == 1)
          cbpChroma =
            if (dec.decision(81 + cbpChroma2Inc(cbpC, mbCols, i)) == 1) 2
            else 1
        cbpC(i) = cbpChroma
        val fullCbp = cbp | (cbpChroma << 4)
        var qpDelta = 0
        val luma = Array.fill(16)(new Array[Int](16))
        val cdc = Array.fill(2)(new Array[Int](4))
        val cac = Array.fill(2, 4)(new Array[Int](15))
        if (fullCbp != 0) {
          val bin0Ctx = ResCtx.QpDelta +
            (if (prevQpDelta != 0) 1 else 0)
          var mapped = 0
          if (dec.decision(bin0Ctx) == 1) {
            mapped = 1
            var more = dec.decision(ResCtx.QpDelta + 2) == 1
            while (more) {
              mapped += 1
              require(mapped < 64, "h264: mb_qp_delta runaway")
              more = dec.decision(ResCtx.QpDelta + 3) == 1
            }
          }
          qpDelta = if (mapped % 2 == 1) (mapped + 1) / 2
            else -mapped / 2
          prevQpDelta = qpDelta
          (0 until 4).foreach { q =>
            if ((cbp & (1 << q)) != 0) (0 until 4).foreach { sub =>
              val blk = q * 4 + sub
              val (bx, by) = blk4x4Pos(blk)
              val inc = cbfNbrInc((r2, c2, x, y2) =>
                cbfLuma(r2 * mbCols + c2)(y2 * 4 + x),
                mbCols, mbRows, mr, mc, bx, by, 4)
              val coeff = decodeResBlock(dec, 2, inc)
              luma(blk) = coeff
              cbfLuma(i)(by * 4 + bx) =
                if (coeff.exists(_ != 0)) 1 else 0
            }
          }
          if (cbpChroma != 0) (0 until 2).foreach { comp =>
            val inc = cbfMbInc(cbfCdc(comp), mbCols, mr, mc)
            cdc(comp) = decodeResBlock(dec, 3, inc)
            cbfCdc(comp)(i) = if (cdc(comp).exists(_ != 0)) 1 else 0
          }
          if (cbpChroma == 2) (0 until 2).foreach { comp =>
            (0 until 4).foreach { blk =>
              val (bx, by) = (blk % 2, blk / 2)
              val inc = cbfNbrInc((r2, c2, x, y2) =>
                cbfCac(comp)(r2 * mbCols + c2)(y2 * 2 + x),
                mbCols, mbRows, mr, mc, bx, by, 2)
              cac(comp)(blk) = decodeResBlock(dec, 4, inc)
              cbfCac(comp)(i)(by * 2 + bx) =
                if (cac(comp)(blk).exists(_ != 0)) 1 else 0
            }
          }
        } else prevQpDelta = 0
        out += CabacCoded(grid(i).clone(), chroma, fullCbp, qpDelta,
          luma.toVector, cdc.toVector, cac.map(_.toVector).toVector)
      }
      val eos = dec.terminate()
      ended = eos == 1
      require((i == nMb - 1) == ended,
        s"h264: end_of_slice_flag $eos at MB $i of $nMb")
      i += 1
    }
    (info, out.result())
  }

  def splitAnnexB(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val starts = Seq.newBuilder[Int]
    var i = 0
    while (i + 3 <= bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
        starts += i + 3; i += 3
      } else i += 1
    }
    val ss = starts.result()
    require(ss.nonEmpty, "h264: no start code in Annex-B stream")
    // final NAL: trim trailing_zero_8bits padding too — RBSP trailing
    // bits guarantee the last real byte of any NAL is nonzero, so
    // every trailing 0x00 is inter-NAL padding on BOTH interior and
    // final boundaries (else the last NAL would compare differently
    // from its AVCC form)
    var last = bytes.length
    while (last > ss.last && bytes(last - 1) == 0) last -= 1
    ss.zipAll(ss.tail.map { s =>
      // back off over the start code AND a preceding zero (4-byte form)
      var e = s - 3
      while (e > 0 && bytes(e - 1) == 0) e -= 1
      e
    }, -1, last).map { case (s, e) =>
      java.util.Arrays.copyOfRange(bytes, s, e)
    }
  }

  /** Split an AVCC sample payload (4-byte big-endian length prefixes,
    * the in-MP4 convention). */
  def splitAvcc(payload: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    while (i < payload.length) {
      require(i + 4 <= payload.length, "h264: truncated AVCC length prefix")
      val len = ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
        ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
      require(len > 0 && i + 4 + len <= payload.length,
        s"h264: AVCC NAL length $len overruns the sample at $i")
      out += java.util.Arrays.copyOfRange(payload, i + 4, i + 4 + len)
      i += 4 + len
    }
    out.result()
  }

  def avccSample(nals: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(nals.map(_.length + 4).sum)
    nals.foreach { n =>
      out.write((n.length >>> 24) & 0xff); out.write((n.length >>> 16) & 0xff)
      out.write((n.length >>> 8) & 0xff); out.write(n.length & 0xff)
      out.write(n, 0, n.length)
    }
    out.toByteArray
  }
}
