package graft.functions

import scala.collection.mutable.ArrayBuffer

/** VP8 KEY-FRAME codec — the payload layer under [[graft.sources.Ivf]]'s
  * frame tags (m38) and the WebM V_VP8 blocks (m39), written from
  * RFC 6386 (the complete normative VP8 decoder spec; the reference
  * runs vp8 through libav, streamtasks/media/codec.py:50-135 and
  * tests/media/test_video_codec.py:14-43).
  *
  * What is NORMATIVE here (RFC 6386 section in brackets):
  *  - the boolean entropy DECODER, bit-exact [§7.3]: 8-bit-probability
  *    arithmetic coding with the 1+((range-1)*p)>>8 split and the
  *    range<128 renormalization loop;
  *  - the boolean ENCODER [§8.1]: carry-propagating mirror of §7.3
  *    (the libvpx-published formulation with the shift/count ledger;
  *    round-trip pinned by Vp8Spec properties over random prob/bit
  *    sequences);
  *  - the KEY-FRAME header syntax order [§9.2-§9.11/§19.2]: color
  *    space, clamping, segmentation flag, filter type/level/sharpness,
  *    lf-delta flag, DCT partition count, the quantizer indices with
  *    their five delta flags, refresh-entropy, the 4×8×3×11
  *    coefficient-probability update flags, mb_no_coeff_skip;
  *  - the intra mode TREES [§11.2]: kf_ymode_tree with probabilities
  *    {145,156,163,128} and uv_mode_tree with {142,114,183};
  *  - the coefficient token TREE [§13.2]: EOB/0/1/2/3/4/cat1..cat6
  *    with extra-bit counts {1,2,3,4,5,11} over bases
  *    {5,7,11,19,35,67}, the coefficient-band map
  *    {0,1,2,3,6,4,5,6,...,7}, the zigzag scan, the
  *    above+left nonzero CONTEXT plane per block type, the
  *    after-a-zero-token no-EOB rule, and the 0/1/2 intra-block
  *    context recursion [§13.3-§13.4];
  *  - the inverse WHT for the Y2 block [§14.3] and the inverse DCT
  *    with the 20091/35468 Q16 constants [§14.4];
  *  - the 16×16 luma and 8×8 chroma intra predictors DC/V/H/TM with
  *    the 127/129 frame-edge conventions [§12.2], and clamped
  *    prediction+residual reconstruction [§14.5].
  *
  * What is a documented STAND-IN (the zero-egress sandbox carries no
  * copy of the RFC's appendix DATA; same seam class as the engine's
  * model weights — a value swap, not a code change, and the swap
  * point is CONCRETE: every such table lives in [[Profile]], and all
  * encode/decode entry points accept one — decoding a libvpx file is
  * constructing a Profile from the appendix tables):
  *  - the default coefficient-probability table values (4×8×3×11) and
  *    the update-flag probability values — deterministic formulas
  *    below, identical on both sides, every value in [1,254];
  *  - the dc/ac quantizer lookup VALUES (the y2dc×2, y2ac×155/100
  *    floor-8 and uvdc≤132 derivation RULES are the spec's).
  *  Consequence: conformant STRUCTURE (a real VP8 parser reads these
  *  frames' headers — m38/m39 already index them), but payload decode
  *  of libvpx-encoded files needs the appendix constants dropped in.
  *
  * KEY-FRAME mode coverage is complete: the four 16×16 modes AND
  * B_PRED with all ten 4×4 submodes [§11.4/§12.3] — submodes coded
  * against (above, left) neighbor-submode contexts (whole-MB
  * neighbors entering as their §11.4 equivalents), no Y2 block, Y
  * blocks carrying their own DC as type 3, and per-subblock
  * reconstruction interleaved with prediction in raster order. The
  * half-step submode cell maps (VR/VL/HD/HU) and the 10×10×9 submode
  * probability values join the stand-in list above.
  *
  * BOTH loop filters are implemented: the §15 SIMPLE filter (luma,
  * both edge classes, the signed common adjustment) and the §15.3
  * NORMAL filter (wide 27/18/9 taps on MB edges, the hev-gated narrow
  * path, the rounded outer adjustment on subblock edges, luma AND
  * chroma planes). Filtering is PER-MACROBLOCK [§15.1/§15.2]:
  * sharpness levels 1–7 rescale the interior limit (>> 1 or >> 2 with
  * the 9−sharpness cap and the floor at 1), the §9.4 loop-filter
  * DELTAS adjust each macroblock's level by its reference frame
  * (intra/LAST/GOLDEN/ALTREF) and prediction mode (B_PRED / ZEROMV /
  * other-inter / SPLITMV) with the remembered-until-updated
  * semantics, and interior (subblock) edges of a macroblock with no
  * nonzero coefficients whose prediction is whole-MB (not B_PRED, not
  * SPLITMV) are skipped.
  *
  * INTER (P) FRAMES are implemented [§16-§18]: the interframe header
  * order (refresh/copy/sign-bias flags, prob_intra/prob_last/prob_gf,
  * mode-prob update flags, the 2×19 MV-probability update flags), the
  * per-MB intra/inter split, the COMPLETE mv_ref tree
  * (ZERO/NEAREST/NEAR/NEW/SPLIT), the §17.2 motion-vector component codec
  * (short tree over 0..7, the 10-bit long form with the implied bit 3
  * when bits 4..9 are all zero, sign, and the ×2 quarter→eighth-pel
  * scaling), the §17.3 near-MV survey (above weight 2, left weight 2,
  * above-left weight 1, merge-with-latest-candidate, the near/nearest
  * count swap, best-mv promotion, and MV clamping to the 16-pel
  * edge margins), and §18 motion compensation: six-tap subpel
  * interpolation with the published 8-phase filter bank (horizontal
  * then vertical, +64 >> 7 rounding and clamping per pass), chroma
  * MVs at half the luma value on the half-resolution plane, and
  * edge-replicated sampling standing in for the spec's extended
  * reference borders. Per-MB reference selection covers all THREE
  * buffers — LAST, GOLDEN and ALTREF (bool(prob_last) then
  * bool(prob_gf) [§16.3]) — and the FULL §9.7 buffer lifecycle is
  * implemented: refresh_golden/refresh_alternate/refresh_last flags,
  * the conditional 2-bit copy_buffer fields (copies reading the
  * pre-update buffers in field order), keyframes re-anchoring all
  * three — in one per-frame [[step]], which [[decodeStream]] and
  * [[graft.streaming.Vp8Machine]] fold.
  *
  * Additional inter stand-ins (same seam class as CoeffProbs, ALL of
  * them [[Profile]] fields): the default MV context probabilities,
  * the 2×19 MV-update-flag probabilities (vp8_mv_update_probs), the
  * 4×8×3×11 coefficient-update-flag probabilities, and the
  * mode-context table that §17.3 indexes by survey counts
  * (deterministic values below, shared by both sides); the
  * non-keyframe default y/uv mode probabilities are
  * {112,86,140,37} / {162,101,204} as published.
  *
  * mb_no_coeff_skip [§9.11] is implemented on both sides: when the
  * header enables it, each MB leads with a skip bool at
  * prob_skip_false; skipped MBs code no tokens and their nonzero
  * contexts read as zero for following neighbors (the Y2 entry resets
  * only for modes that have a Y2 block).
  *
  * SPLITMV [§16.2/§17.4] is implemented: the four partitionings with
  * their subblock maps, per-partition sub-MV modes
  * (LEFT/ABOVE/ZERO/NEW against the left/above subblock-MV agreement
  * contexts), per-subblock motion compensation, the rounded 4-MV
  * chroma average [§18.2], own-DC (type 3) tokens with no Y2 block,
  * and the last-subblock MV entering the §17.3 survey.
  *
  * SEGMENTATION [§9.3/§10] is implemented for the quantizer features:
  * up to four segments with absolute or delta quantizer values, the
  * per-MB segment-id tree leading each MB's mode info, and
  * per-segment dequant factors composing with the §9.6 plane deltas.
  *
  * The PERSISTENT ENTROPY STATE [§9.7/§13.4/§17.2] is implemented:
  * every frame may UPDATE the coefficient-probability table (the
  * 4×8×3×11 conditional flag + 8-bit replacement reads), inter frames
  * may update the MV context probabilities (flag + 7-bit value, the
  * x?x<<1:1 expansion) and the non-kf y/uv mode probability sets, the
  * updates persist across frames when refresh_entropy_probs = 1 and
  * revert after the frame when 0, and KEY frames reset the whole
  * state to the profile defaults before their own updates. The state
  * rides [[Ctx]], threadable across a frame sequence
  * ([[decodeStream]]) or a state store ([[graft.streaming.Vp8Machine]]).
  *
  * SEGMENTATION is complete for both features and both map regimes:
  * per-segment QUANTIZER and LOOP-FILTER values (absolute or delta),
  * and MAP PERSISTENCE — update_mb_segmentation_map = 0 frames reuse
  * the previous map through [[Ctx]].segMap (temporal segmentation).
  * B_PRED inside INTER frames is implemented (§11.4's fixed non-kf
  * submode table — the intra-refresh pattern), with type-3 tokens,
  * no Y2, and interleaved reconstruction as in keyframes.
  *
  * Sign biases (§17.3) are implemented: survey candidates from
  * neighbors whose reference frame has the opposite sign bias are
  * negated before entering the near-MV list.
  *
  * DISPLAY CROPPING [§9.1] is implemented: any positive dimensions
  * are legal — reconstruction and reference buffers run on the
  * macroblock-padded frame, [[decodeStream]] emits display-cropped
  * planes, and [[crop]]/[[pad16]] are public for callers holding
  * [[Decoded]]'s padded planes.
  *
  * With update_segment_feature_data = 0 persistence (remembered
  * features in [[Ctx]], like the map), the COMPLETE VP8 header
  * syntax is implemented — every mechanism a conformant stream can
  * code, with the appendix DATA behind the JSON-injectable
  * [[Profile]] seam. Token partitioning [§9.5] covers all four legal
  * counts (1/2/4/8): MB row r codes into partition r mod count,
  * sizes as 3-byte little-endian between the first partition and the
  * token data.
  */
object Vp8 {

  // ---- intra modes -----------------------------------------------------------

  val DcPred = 0; val VPred = 1; val HPred = 2; val TmPred = 3; val BPred = 4

  /** kf_ymode_tree [RFC 6386 §11.2]; leaves stored as -(mode+1). */
  private val KfYmodeTree = Array(-(BPred + 1), 2, 4, 6,
    -(DcPred + 1), -(VPred + 1), -(HPred + 1), -(TmPred + 1))
  private val KfYmodeProb = Array(145, 156, 163, 128)

  /** uv_mode_tree [§11.2]. */
  private val UvModeTree = Array(-(DcPred + 1), 2, -(VPred + 1), 4,
    -(HPred + 1), -(TmPred + 1))
  private val KfUvModeProb = Array(142, 114, 183)

  // ---- B_PRED 4×4 submodes [§11.4, §12.3] ------------------------------------

  val BDc = 0; val BTm = 1; val BVe = 2; val BHe = 3; val BLd = 4
  val BRd = 5; val BVr = 6; val BVl = 7; val BHd = 8; val BHu = 9

  /** bmode_tree [§11.4 shape]: 10 submodes, 9 internal nodes — the 9
    * probabilities per (above, left) context cell below. */
  private val BmodeTree = Array(
    -(BDc + 1), 2,
    -(BTm + 1), 4,
    -(BVe + 1), 6,
    8, 12,
    -(BHe + 1), 10,
    -(BRd + 1), -(BVr + 1),
    -(BLd + 1), 14,
    -(BVl + 1), 16,
    -(BHd + 1), -(BHu + 1))

  /** STAND-IN kf_bmode_probs[above][left][9] (the RFC's 10×10×9
    * appendix table — same seam as CoeffProbs; both sides share). */
  private[graft] val KfBmodeProb: Array[Array[Array[Int]]] =
    Array.tabulate(10, 10, 9)((a, l, n) =>
      1 + ((a * 31 + l * 17 + n * 13 + 7) * 41) % 254)

  /** Submode-context equivalent of a 16×16 mode [§11.4]: neighbors
    * coded with whole-MB modes enter the context as these. */
  private def subEquiv(yMode: Int): Int = yMode match {
    case DcPred => BDc
    case VPred  => BVe
    case HPred  => BHe
    case TmPred => BTm
    case m => throw new IllegalArgumentException(s"vp8: subEquiv($m)")
  }

  // ---- coefficient tokens [§13.2] --------------------------------------------

  // token ids: 0..4 literal values, 5..10 categories, 11 EOB
  private val TokEob = 11
  private val CoeffTree = Array(
    -(TokEob + 1), 2,
    -1 /*ZERO*/ , 4,
    -2 /*ONE*/ , 6,
    8, 12,
    -3 /*TWO*/ , 10,
    -4 /*THREE*/ , -5 /*FOUR*/ ,
    14, 16,
    -6 /*cat1*/ , -7 /*cat2*/ ,
    18, 20,
    -8 /*cat3*/ , -9 /*cat4*/ ,
    -10 /*cat5*/ , -11 /*cat6*/ )
  // tree leaf id → token: leaf (id-1): 0→ZERO(0) ... 4→FOUR(4), 5..10 cats, 11 EOB
  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val CatBits = Array(1, 2, 3, 4, 5, 11)
  // extra-bit probabilities (Pcat1..6, §13.5 as published; the codec is
  // self-consistent in any case — both sides share this table)
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
  /** Maximum codable coefficient magnitude: cat6 base + 11 extra bits. */
  val MaxLevel: Int = 67 + (1 << 11) - 1

  /** coeff_bands[scan position] [§13.3]. */
  private val CoeffBands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  /** zigzag: scan position → raster position in the 4×4 block. */
  private val Zigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  // block types for the probability table: 0 = Y after Y2 (first coeff
  // is position 1), 1 = Y2, 2 = chroma, 3 = Y with its own DC (B_PRED,
  // out of scope here but the table keeps the spec's shape)
  private val NTypes = 4; private val NBands = 8; private val NCtx = 3
  private val NNodes = 11

  /** STAND-IN default coefficient probabilities — deterministic, both
    * sides share the object; swap in RFC 6386 §13.5's table to decode
    * foreign files. Values land in [1,254]. */
  private[graft] val CoeffProbs: Array[Array[Array[Array[Int]]]] =
    Array.tabulate(NTypes, NBands, NCtx, NNodes) { (t, b, c, n) =>
      1 + ((t * 131 + b * 37 + c * 17 + n * 7 + 89) * 53) % 254
    }
  // (the 4×8×3×11 update-flag probabilities live in
  // Profile.coeffUpdateProbs; the stand-in's uniform 252 makes the
  // 1056 zero flags cheap, as the real mostly-255 table does)

  // ---- quantizer [§14.1] -----------------------------------------------------

  /** STAND-IN dc/ac lookups (128 entries each in the spec); derivation
    * rules below (y2 doubling, the 155/100 ac scale with floor 8, the
    * 132 uvdc cap) are the spec's. */
  private[graft] val StandInDcQ: Array[Int] = Array.tabulate(128)(4 + _)
  private[graft] val StandInAcQ: Array[Int] = Array.tabulate(128)(i => 4 + 2 * i)

  /** §9.3/§10 segmentation: up to four segments, each with its own
    * QUANTIZER value and LOOP-FILTER value — ABSOLUTE (replacing the
    * frame base) or DELTA (adding to it) per segment_feature_mode —
    * and a per-MB segment id coded by a 4-leaf tree with three map
    * probabilities. The MAP may persist: update_mb_segmentation_map
    * = 0 reuses the previous frame's per-MB ids (carried in
    * [[Ctx]].segMap), the temporal-segmentation shape real encoders
    * lean on; `updateMap = false` frames code NO map probabilities
    * and NO per-MB trees ([[Segmentation.mapProbs]] is a 128-filled
    * placeholder on decode). Subset: feature DATA must be re-stated
    * in every segmented frame (update_segment_feature_data = 1,
    * loudly). */
  final case class Segmentation(absMode: Boolean, quant: Array[Int],
      mapProbs: Array[Int], lf: Array[Int] = Array.fill(4)(0),
      updateMap: Boolean = true,
      /** update_segment_feature_data: when false, the frame codes NO
        * mode/quant/lf fields and the remembered features (in
        * [[Ctx]]) apply [§9.3]. */
      updateData: Boolean = true) {
    require(quant.length == 4 &&
      quant.forall(q => q >= -127 && q <= 127),
      "vp8: four segment quantizer values in ±127")
    require(lf.length == 4 && lf.forall(v => v >= -63 && v <= 63),
      "vp8: four segment loop-filter values in ±63")
    require(mapProbs.length == 3 &&
      mapProbs.forall(p => p >= 1 && p <= 254),
      "vp8: three segment-map probabilities in [1, 254]")
  }
  private val SegmentTree = Array(2, 4, -1, -2, -3, -4)

  private def writeSegmentation(h: BoolEncoder,
      seg: Option[Segmentation], cx: Ctx): Unit = seg match {
    case None => h.literal(0, 1)
    case Some(g) =>
      h.literal(1, 1) // segmentation_enabled
      h.literal(if (g.updateMap) 1 else 0, 1) // update_mb_segmentation_map
      h.literal(if (g.updateData) 1 else 0, 1) // update_segment_feature_data
      if (g.updateData) {
        h.literal(if (g.absMode) 1 else 0, 1) // segment_feature_mode
        g.quant.foreach { q =>
          if (q == 0) h.literal(0, 1)
          else {
            h.literal(1, 1); h.literal(math.abs(q), 7)
            h.literal(if (q < 0) 1 else 0, 1)
          }
        }
        g.lf.foreach { v => // per-segment loop-filter feature [§9.3]
          if (v == 0) h.literal(0, 1)
          else {
            h.literal(1, 1); h.literal(math.abs(v), 6)
            h.literal(if (v < 0) 1 else 0, 1)
          }
        }
        cx.segAbs = g.absMode
        cx.segQuant = g.quant.clone()
        cx.segLf = g.lf.clone()
      } else require(cx.segQuant != null && cx.segAbs == g.absMode &&
        cx.segQuant.sameElements(g.quant) && cx.segLf.sameElements(g.lf),
        "vp8: update_segment_feature_data = 0 but the frame's features " +
          "disagree with the remembered ones")
      if (g.updateMap)
        g.mapProbs.foreach { p => h.literal(1, 1); h.literal(p, 8) }
  }

  private def readSegmentation(h: BoolDecoder, cx: Ctx)
      : Option[Segmentation] = {
    if (h.literal(1) == 0) None
    else {
      val updateMap = h.literal(1) == 1
      val updateData = h.literal(1) == 1
      val (absMode, quant, lf) =
        if (updateData) {
          val am = h.literal(1) == 1
          val q = Array.fill(4)(
            if (h.literal(1) == 0) 0
            else { val m = h.literal(7); if (h.literal(1) == 1) -m else m })
          val l = Array.fill(4)(
            if (h.literal(1) == 0) 0
            else { val m = h.literal(6); if (h.literal(1) == 1) -m else m })
          cx.segAbs = am; cx.segQuant = q.clone(); cx.segLf = l.clone()
          (am, q, l)
        } else {
          require(cx.segQuant != null,
            "vp8: update_segment_feature_data = 0 without remembered " +
              "features")
          (cx.segAbs, cx.segQuant.clone(), cx.segLf.clone())
        }
      val probs =
        if (updateMap) Array.fill(3)(
          if (h.literal(1) == 1) h.literal(8) else 255)
        else Array.fill(3)(128) // placeholder: no probs in the header
      require(probs.forall(p => p >= 1 && p <= 254),
        "vp8: segment-map probability outside [1, 254]")
      Some(Segmentation(absMode, quant, probs, lf, updateMap, updateData))
    }
  }

  /** The per-MB loop-filter BASE before the §9.4 mode/ref deltas: in
    * absolute mode the segment lf value replaces the frame level
    * UNCONDITIONALLY (0 disables filtering — libvpx semantics,
    * matching segmentDequants); in delta mode it shifts the frame
    * level (a 0 delta is the identity) [§9.3/§15.1]. */
  private def segLfBase(frameLevel: Int, seg: Option[Segmentation],
      segId: Int): Int = seg match {
    case Some(g) =>
      val v = if (g.absMode) g.lf(segId) else frameLevel + g.lf(segId)
      math.max(0, math.min(63, v))
    case None => frameLevel
  }

  /** Per-segment dequant factors: the segment feature shifts (delta)
    * or replaces (absolute) the frame base index, then the §9.6
    * per-plane deltas apply on top [§10.2]. */
  private def segmentDequants(qindex: Int, seg: Option[Segmentation],
      profile: Profile, deltas: QDeltas): Array[Dequant] = seg match {
    case None => Array.fill(4)(dequantFactors(qindex, profile, deltas))
    case Some(g) => Array.tabulate(4) { i =>
      val base = if (g.absMode) g.quant(i) else qindex + g.quant(i)
      dequantFactors(math.min(127, math.max(0, base)), profile, deltas)
    }
  }

  /** The five per-plane quantizer deltas [§9.6]: each shifts the
    * shared y_ac base index for one factor, coded flag + 4-bit
    * magnitude + sign in the frame header. */
  final case class QDeltas(ydc: Int = 0, y2dc: Int = 0, y2ac: Int = 0,
      uvdc: Int = 0, uvac: Int = 0) {
    require(Seq(ydc, y2dc, y2ac, uvdc, uvac)
      .forall(d => d >= -15 && d <= 15),
      s"vp8: quantizer delta outside the 4-bit-magnitude range: $this")
    def isZero: Boolean =
      ydc == 0 && y2dc == 0 && y2ac == 0 && uvdc == 0 && uvac == 0
  }

  final case class Dequant(ydc: Int, yac: Int, y2dc: Int, y2ac: Int,
      uvdc: Int, uvac: Int)
  def dequantFactors(qindex: Int,
      profile: Profile = Profile.StandIn,
      deltas: QDeltas = QDeltas()): Dequant = {
    def q(d: Int) = math.min(127, math.max(0, qindex + d))
    Dequant(
      ydc = profile.dcQ(q(deltas.ydc)),
      yac = profile.acQ(q(0)),
      y2dc = profile.dcQ(q(deltas.y2dc)) * 2,
      y2ac = math.max(8, profile.acQ(q(deltas.y2ac)) * 155 / 100),
      uvdc = math.min(132, profile.dcQ(q(deltas.uvdc))),
      uvac = profile.acQ(q(deltas.uvac)))
  }

  private def writeQDelta(h: BoolEncoder, d: Int): Unit =
    if (d == 0) h.literal(0, 1)
    else {
      h.literal(1, 1); h.literal(math.abs(d), 4)
      h.literal(if (d < 0) 1 else 0, 1)
    }
  private def readQDelta(h: BoolDecoder): Int =
    if (h.literal(1) == 0) 0
    else { val m = h.literal(4); if (h.literal(1) == 1) -m else m }
  private def writeQDeltas(h: BoolEncoder, d: QDeltas): Unit = {
    writeQDelta(h, d.ydc); writeQDelta(h, d.y2dc); writeQDelta(h, d.y2ac)
    writeQDelta(h, d.uvdc); writeQDelta(h, d.uvac)
  }
  private def readQDeltas(h: BoolDecoder): QDeltas =
    QDeltas(readQDelta(h), readQDelta(h), readQDelta(h), readQDelta(h),
      readQDelta(h))

  /** THE stand-in seam, made concrete: every appendix-DATA table the
    * zero-egress sandbox cannot carry lives in one swappable value.
    * Decoding a libvpx-encoded file is constructing a Profile from RFC
    * 6386's appendix tables (coefficient probs §13.5 and their
    * update-flag probs §13.4, kf B_PRED submode probs §11.4, MV
    * context defaults and update-flag probs §17.2, mode contexts
    * §17.3, dc/ac quantizer lookups §14.1) and passing it to
    * [[decode]]/[[decodeInter]]/[[decodeStream]] — a value swap, not a
    * code change. Both sides of every query share [[Profile.StandIn]];
    * Vp8Spec proves an alternative profile round-trips identically
    * while producing different bytes. */
  final case class Profile(
      coeffProbs: Array[Array[Array[Array[Int]]]],
      bmodeProbs: Array[Array[Array[Int]]],
      mvProbs: Array[Array[Int]],
      modeContexts: Array[Array[Int]],
      dcQ: Array[Int],
      acQ: Array[Int],
      /** §13.4 per-node coefficient-UPDATE-flag probabilities (the
        * spec's coeff_update_probs, 4×8×3×11 appendix data; the
        * stand-in's uniform 252 makes the all-zero flag walk cheap,
        * as the real mostly-255 table does). */
      coeffUpdateProbs: Array[Array[Array[Array[Int]]]] =
        Array.fill(4, 8, 3, 11)(252),
      /** §17.2 per-flag MV-probability-update probabilities (the
        * spec's 2×19 vp8_mv_update_probs table). */
      mvUpdateProbs: Array[Array[Int]] = Array.fill(2, 19)(252)) {
    require(coeffProbs.length == 4 && coeffProbs(0).length == 8 &&
      coeffProbs(0)(0).length == 3 && coeffProbs(0)(0)(0).length == 11,
      "vp8 profile: coeff probs must be 4x8x3x11")
    require(coeffUpdateProbs.length == 4 && coeffUpdateProbs(0).length == 8 &&
      coeffUpdateProbs(0)(0).length == 3 &&
      coeffUpdateProbs(0)(0)(0).length == 11,
      "vp8 profile: coeff update probs must be 4x8x3x11")
    require(bmodeProbs.length == 10 && bmodeProbs(0).length == 10 &&
      bmodeProbs(0)(0).length == 9, "vp8 profile: bmode probs 10x10x9")
    require(mvProbs.length == 2 && mvProbs.forall(_.length == 19),
      "vp8 profile: mv probs 2x19")
    require(mvUpdateProbs.length == 2 && mvUpdateProbs.forall(_.length == 19),
      "vp8 profile: mv update probs 2x19")
    require(modeContexts.length == 6 && modeContexts.forall(_.length == 4),
      "vp8 profile: mode contexts 6x4")
    require(dcQ.length == 128 && acQ.length == 128,
      "vp8 profile: quantizer lookups need 128 entries")
    require((coeffProbs.iterator.flatten.flatten.flatten ++
      coeffUpdateProbs.iterator.flatten.flatten.flatten ++
      bmodeProbs.iterator.flatten.flatten ++ mvProbs.iterator.flatten ++
      mvUpdateProbs.iterator.flatten ++
      modeContexts.iterator.flatten).forall(v => v >= 1 && v <= 254),
      "vp8 profile: probabilities must lie in [1, 254]")
  }
  object Profile {
    /** The deterministic stand-in tables (module doc). */
    lazy val StandIn: Profile = Profile(CoeffProbs, KfBmodeProb,
      MvDefaultProb, ModeContextProb, StandInDcQ, StandInAcQ)
  }

  // ---- persistent entropy state [§9.7] ----------------------------------------

  /** The probability state §9.7's refresh_entropy_probs governs: the
    * coefficient table [§13.4], the MV contexts [§17.2] and the non-kf
    * y/uv mode probabilities [§11.3]. Mutable — frame headers update
    * it in place; [[snapshot]]/[[restoreFrom]] implement the
    * revert-after-frame path and [[resetTo]] the key-frame reset. */
  final class Entropy(
      val coeff: Array[Array[Array[Array[Int]]]],
      val mv: Array[Array[Int]],
      val ymode: Array[Int],
      val uvmode: Array[Int]) extends Serializable {
    def snapshot: Entropy = new Entropy(
      coeff.map(_.map(_.map(_.clone()))), mv.map(_.clone()),
      ymode.clone(), uvmode.clone())
    def restoreFrom(o: Entropy): Unit = {
      for (t <- 0 until 4; b <- 0 until 8; c <- 0 until 3)
        System.arraycopy(o.coeff(t)(b)(c), 0, coeff(t)(b)(c), 0, 11)
      for (i <- 0 until 2) System.arraycopy(o.mv(i), 0, mv(i), 0, 19)
      System.arraycopy(o.ymode, 0, ymode, 0, 4)
      System.arraycopy(o.uvmode, 0, uvmode, 0, 3)
    }
    /** Key-frame reset: everything back to the stream defaults. */
    def resetTo(p: Profile): Unit = {
      for (t <- 0 until 4; b <- 0 until 8; c <- 0 until 3)
        System.arraycopy(p.coeffProbs(t)(b)(c), 0, coeff(t)(b)(c), 0, 11)
      for (i <- 0 until 2) System.arraycopy(p.mvProbs(i), 0, mv(i), 0, 19)
      System.arraycopy(InterYmodeProb, 0, ymode, 0, 4)
      System.arraycopy(InterUvModeProb, 0, uvmode, 0, 3)
    }
  }
  object Entropy {
    val FlatSize: Int = 4 * 8 * 3 * 11 + 2 * 19 + 4 + 3
    def from(p: Profile): Entropy = {
      val e = new Entropy(Array.fill(4, 8, 3, 11)(0), Array.fill(2, 19)(0),
        new Array[Int](4), new Array[Int](3))
      e.resetTo(p); e
    }
  }

  /** The cross-frame decoder/encoder context: the [[Entropy]] state,
    * the §9.4 remembered loop-filter deltas (slots 0–3 the
    * per-reference deltas intra/LAST/GOLDEN/ALTREF, 4–7 the per-mode
    * deltas B_PRED/ZEROMV/other-inter/SPLITMV; zero at stream start,
    * updated only when a header flags them), and the PERSISTENT
    * SEGMENT MAP (§9.3: update_mb_segmentation_map = 0 frames reuse
    * the previous frame's per-MB ids; null until a map is coded).
    * One Ctx per stream; [[toFlat]]/[[fromFlat]] round-trip it
    * through a state store. */
  final class Ctx(val profile: Profile) extends Serializable {
    val entropy: Entropy = Entropy.from(profile)
    val lfDeltas: Array[Int] = new Array[Int](8)
    var segMap: Array[Int] = null
    /** §9.3 remembered segmentation features (null until coded). */
    var segAbs: Boolean = false
    var segQuant: Array[Int] = null
    var segLf: Array[Int] = null
  }
  object Ctx {
    def toFlat(cx: Ctx): Array[Int] = {
      val segLen = if (cx.segMap == null) 0 else cx.segMap.length
      val out = new Array[Int](Entropy.FlatSize + 8 + 10 + 1 + segLen)
      var i = 0
      for (t <- 0 until 4; b <- 0 until 8; c <- 0 until 3; n <- 0 until 11) {
        out(i) = cx.entropy.coeff(t)(b)(c)(n); i += 1
      }
      for (m <- 0 until 2; j <- 0 until 19) {
        out(i) = cx.entropy.mv(m)(j); i += 1
      }
      for (j <- 0 until 4) { out(i) = cx.entropy.ymode(j); i += 1 }
      for (j <- 0 until 3) { out(i) = cx.entropy.uvmode(j); i += 1 }
      System.arraycopy(cx.lfDeltas, 0, out, i, 8)
      i += 8
      // remembered segmentation features: presence, mode, 4+4 values
      out(i) = if (cx.segQuant == null) 0 else 1; i += 1
      out(i) = if (cx.segAbs) 1 else 0; i += 1
      if (cx.segQuant != null) {
        System.arraycopy(cx.segQuant, 0, out, i, 4)
        System.arraycopy(cx.segLf, 0, out, i + 4, 4)
      }
      i += 8
      out(i) = segLen; i += 1
      if (segLen > 0) System.arraycopy(cx.segMap, 0, out, i, segLen)
      out
    }
    def fromFlat(profile: Profile, a: Array[Int]): Ctx = {
      require(a.length >= Entropy.FlatSize + 8 + 10 + 1,
        s"vp8 ctx: flat state of ${a.length} ints")
      val cx = new Ctx(profile)
      var i = 0
      for (t <- 0 until 4; b <- 0 until 8; c <- 0 until 3; n <- 0 until 11) {
        cx.entropy.coeff(t)(b)(c)(n) = a(i); i += 1
      }
      for (m <- 0 until 2; j <- 0 until 19) {
        cx.entropy.mv(m)(j) = a(i); i += 1
      }
      for (j <- 0 until 4) { cx.entropy.ymode(j) = a(i); i += 1 }
      for (j <- 0 until 3) { cx.entropy.uvmode(j) = a(i); i += 1 }
      System.arraycopy(a, i, cx.lfDeltas, 0, 8)
      i += 8
      if (a(i) == 1) {
        cx.segAbs = a(i + 1) == 1
        cx.segQuant = java.util.Arrays.copyOfRange(a, i + 2, i + 6)
        cx.segLf = java.util.Arrays.copyOfRange(a, i + 6, i + 10)
      }
      i += 10
      val segLen = a(i); i += 1
      require(a.length == Entropy.FlatSize + 8 + 10 + 1 + segLen,
        s"vp8 ctx: flat state length disagrees with its segment map")
      if (segLen > 0) {
        cx.segMap = new Array[Int](segLen)
        System.arraycopy(a, i, cx.segMap, 0, segLen)
      }
      cx
    }
  }

  /** One coefficient-probability update [§13.4]: table cell
    * (blockType, band, ctx, node) replaced by `prob`. */
  final case class CoeffUpdate(blockType: Int, band: Int, ctx: Int,
      node: Int, prob: Int) {
    require(blockType >= 0 && blockType < 4 && band >= 0 && band < 8 &&
      ctx >= 0 && ctx < 3 && node >= 0 && node < 11,
      s"vp8: coeff-update cell ($blockType,$band,$ctx,$node)")
    require(prob >= 1 && prob <= 254, s"vp8: coeff-update prob $prob")
  }

  /** A §9.4 loop-filter delta update: the flagged (slot, value) pairs,
    * slot 0–3 per-reference, 4–7 per-mode; unflagged slots KEEP their
    * remembered values. */
  final case class LfDeltaUpdate(entries: Vector[(Int, Int)]) {
    require(entries.forall { case (s, v) =>
      s >= 0 && s <= 7 && v >= -63 && v <= 63 },
      "vp8: lf-delta slots 0-7, values in ±63")
    require(entries.map(_._1).distinct.size == entries.size,
      "vp8: duplicate lf-delta slot")
  }

  private def writeLfDeltas(h: BoolEncoder, enabled: Boolean,
      update: Option[LfDeltaUpdate], cx: Ctx): Unit = {
    h.literal(if (enabled) 1 else 0, 1)
    if (enabled) {
      h.literal(if (update.isDefined) 1 else 0, 1)
      update.foreach { u =>
        val m = u.entries.toMap
        var s = 0
        while (s < 8) {
          m.get(s) match {
            case Some(v) =>
              h.literal(1, 1); h.literal(math.abs(v), 6)
              h.literal(if (v < 0) 1 else 0, 1)
              cx.lfDeltas(s) = v
            case None => h.literal(0, 1)
          }
          s += 1
        }
      }
    }
  }

  private def readLfDeltas(h: BoolDecoder, cx: Ctx)
      : (Boolean, Option[LfDeltaUpdate]) = {
    val enabled = h.literal(1) == 1
    if (!enabled) (false, None)
    else if (h.literal(1) == 0) (true, None)
    else {
      val entries = Vector.newBuilder[(Int, Int)]
      var s = 0
      while (s < 8) {
        if (h.literal(1) == 1) {
          val m = h.literal(6)
          val v = if (h.literal(1) == 1) -m else m
          cx.lfDeltas(s) = v
          entries += ((s, v))
        }
        s += 1
      }
      (true, Some(LfDeltaUpdate(entries.result())))
    }
  }

  /** §13.4 coefficient-probability update section: one conditional
    * flag per (type, band, ctx, node) cell at the profile's update
    * probability, an 8-bit replacement when flagged — applied to the
    * live entropy state in place. */
  private def writeCoeffUpdates(h: BoolEncoder,
      updates: Vector[CoeffUpdate], prof: Profile, cx: Ctx): Unit = {
    val m = updates.map(u =>
      ((u.blockType, u.band, u.ctx, u.node), u.prob)).toMap
    var t = 0
    while (t < NTypes) {
      var b = 0
      while (b < NBands) {
        var c = 0
        while (c < NCtx) {
          var n = 0
          while (n < NNodes) {
            m.get((t, b, c, n)) match {
              case Some(p) =>
                h.bool(1, prof.coeffUpdateProbs(t)(b)(c)(n))
                h.literal(p, 8)
                cx.entropy.coeff(t)(b)(c)(n) = p
              case None => h.bool(0, prof.coeffUpdateProbs(t)(b)(c)(n))
            }
            n += 1
          }
          c += 1
        }
        b += 1
      }
      t += 1
    }
  }

  private def readCoeffUpdates(h: BoolDecoder, prof: Profile,
      cx: Ctx): Vector[CoeffUpdate] = {
    val out = Vector.newBuilder[CoeffUpdate]
    var t = 0
    while (t < NTypes) {
      var b = 0
      while (b < NBands) {
        var c = 0
        while (c < NCtx) {
          var n = 0
          while (n < NNodes) {
            if (h.bool(prof.coeffUpdateProbs(t)(b)(c)(n)) == 1) {
              val p = h.literal(8)
              require(p >= 1 && p <= 254,
                s"vp8: coefficient-probability update $p outside [1,254]")
              cx.entropy.coeff(t)(b)(c)(n) = p
              out += CoeffUpdate(t, b, c, n, p)
            }
            n += 1
          }
          c += 1
        }
        b += 1
      }
      t += 1
    }
    out.result()
  }

  /** §15.2's sharpness-rescaled interior limit: level shifted by 1
    * (sharpness 1–4) or 2 (5–7), capped at 9−sharpness, floored at 1. */
  private[graft] def interiorLimit(level: Int, sharpness: Int): Int = {
    var il = level
    if (sharpness > 0) {
      il >>= (if (sharpness > 4) 2 else 1)
      if (il > 9 - sharpness) il = 9 - sharpness
    }
    math.max(1, il)
  }

  /** The per-MB filter level [§9.4]: frame base + the per-reference
    * delta + the per-mode delta, clamped to 0..63. `ref`: 0 intra,
    * 1 LAST, 2 GOLDEN, 3 ALTREF; `modeSlot`: -1 none, 0 B_PRED,
    * 1 ZEROMV, 2 other inter, 3 SPLITMV. */
  private def mbFilterLevel(base: Int, enabled: Boolean, cx: Ctx,
      ref: Int, modeSlot: Int): Int =
    if (!enabled) base
    else {
      var l = base + cx.lfDeltas(ref)
      if (modeSlot >= 0) l += cx.lfDeltas(4 + modeSlot)
      math.max(0, math.min(63, l))
    }

  // ---- bool coder ------------------------------------------------------------

  /** §7.3 decoder, bit-exact to the RFC's reference code. */
  final class BoolDecoder(buf: Array[Byte], start: Int, end: Int) {
    require(start <= end && end <= buf.length,
      s"vp8: bool partition [$start,$end) outside ${buf.length} B")
    private var pos = start
    private var value = (nextByte << 8) | nextByte
    private var range = 255
    private var bitCount = 0
    private def nextByte: Int = {
      // reading past the partition is LEGAL in §7.3's reference decoder
      // (the tail of a correct stream never depends on those bits), but
      // the partition boundary itself was already validated by the
      // caller from first_part_size
      val b = if (pos < end) buf(pos) & 0xff else 0
      pos += 1; b
    }
    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigsplit = split << 8
      val ret =
        if (value >= bigsplit) { range -= split; value -= bigsplit; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte }
      }
      ret
    }
    /** L(n): n literal bits MSB-first, each at probability 128. */
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }
    /** Tree read: probs indexed by internal-node/2 [§8.2]. */
    def tree(t: Array[Int], probs: Array[Int], startAt: Int = 0): Int = {
      var i = startAt
      while (i >= 0) {
        i = t(i + bool(probs(i >> 1)))
      }
      -i - 1
    }
  }

  /** §8.1 encoder (libvpx-published shift/count formulation): lowvalue
    * carries the arithmetic interval base, count the emitted-bit debt;
    * carries propagate through already-emitted 0xff bytes. */
  final class BoolEncoder {
    private val out = ArrayBuffer.empty[Byte]
    private var low = 0L
    private var range = 255
    private var count = -24
    private def carry(): Unit = {
      var x = out.length - 1
      while (x >= 0 && out(x) == -1) { out(x) = 0; x -= 1 }
      require(x >= 0, "vp8: bool-encoder carry before any emitted byte")
      out(x) = (out(x) + 1).toByte
    }
    def bool(bit: Int, prob: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) {
        low += split
        // invariant: ≤ 23 pending bits at rest keeps low < 2^31 before
        // the add, so the 32-bit window cannot overflow — loud, not
        // silent, if the ledger arithmetic is ever violated
        require((low >>> 32) == 0L, "vp8: bool-encoder window overflow")
        range -= split
      } else range = split
      var shift = Integer.numberOfLeadingZeros(range) - 24
      range <<= shift
      count += shift
      if (count >= 0) {
        val offset = shift - count
        if (((low << (offset - 1)) & 0x80000000L) != 0) carry()
        out += ((low >> (24 - offset)) & 0xff).toByte
        low = (low << offset) & 0xffffff
        shift = count
        count -= 8
      }
      low = (low << shift) & 0xffffffffL
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool((v >> i) & 1, 128); i -= 1 }
    }
    def tree(t: Array[Int], probs: Array[Int], leaf: Int,
        startAt: Int = 0): Unit = {
      // walk down recording the path, then emit
      val path = ArrayBuffer.empty[(Int, Int)]
      def walk(i: Int): Boolean = {
        if (i < 0) return -i - 1 == leaf
        var b = 0
        while (b < 2) {
          path += ((i, b))
          if (walk(t(i + b))) return true
          path.remove(path.length - 1)
          b += 1
        }
        false
      }
      require(walk(startAt), s"vp8: leaf $leaf not in tree from $startAt")
      path.foreach { case (i, b) => bool(b, probs(i >> 1)) }
    }
    /** Flush: 32 zero bits at even probability push every pending
      * meaningful bit into the output (libvpx's vp8_stop_encode). */
    def stop(): Array[Byte] = {
      var i = 0
      while (i < 32) { bool(0, 128); i += 1 }
      out.toArray
    }
  }

  // ---- transforms ------------------------------------------------------------

  private val CosPi8Sqrt2Minus1 = 20091
  private val SinPi8Sqrt2 = 35468

  /** §14.4 inverse DCT, 4×4, input/output raster order. */
  private[graft] def idct4x4(in: Array[Int]): Array[Int] = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val i0 = in(i); val i1 = in(4 + i); val i2 = in(8 + i); val i3 = in(12 + i)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * SinPi8Sqrt2) >> 16) - (i3 + ((i3 * CosPi8Sqrt2Minus1) >> 16))
      val d1 = (i1 + ((i1 * CosPi8Sqrt2Minus1) >> 16)) + ((i3 * SinPi8Sqrt2) >> 16)
      tmp(i) = a1 + d1
      tmp(12 + i) = a1 - d1
      tmp(4 + i) = b1 + c1
      tmp(8 + i) = b1 - c1
      i += 1
    }
    val outA = new Array[Int](16)
    i = 0
    while (i < 4) { // rows, with the (x+4)>>3 final rounding
      val r = 4 * i
      val i0 = tmp(r); val i1 = tmp(r + 1); val i2 = tmp(r + 2); val i3 = tmp(r + 3)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * SinPi8Sqrt2) >> 16) - (i3 + ((i3 * CosPi8Sqrt2Minus1) >> 16))
      val d1 = (i1 + ((i1 * CosPi8Sqrt2Minus1) >> 16)) + ((i3 * SinPi8Sqrt2) >> 16)
      outA(r) = (a1 + d1 + 4) >> 3
      outA(r + 3) = (a1 - d1 + 4) >> 3
      outA(r + 1) = (b1 + c1 + 4) >> 3
      outA(r + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
    outA
  }

  /** §14.3 inverse Walsh-Hadamard for the Y2 block. */
  private[graft] def iwalsh4x4(in: Array[Int]): Array[Int] = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = in(i) + in(12 + i)
      val b1 = in(4 + i) + in(8 + i)
      val c1 = in(4 + i) - in(8 + i)
      val d1 = in(i) - in(12 + i)
      tmp(i) = a1 + b1
      tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1
      tmp(12 + i) = d1 - c1
      i += 1
    }
    val outA = new Array[Int](16)
    i = 0
    while (i < 4) { // rows with (x+3)>>3
      val r = 4 * i
      val a1 = tmp(r) + tmp(r + 3)
      val b1 = tmp(r + 1) + tmp(r + 2)
      val c1 = tmp(r + 1) - tmp(r + 2)
      val d1 = tmp(r) - tmp(r + 3)
      outA(r) = (a1 + b1 + 3) >> 3
      outA(r + 1) = (c1 + d1 + 3) >> 3
      outA(r + 2) = (a1 - b1 + 3) >> 3
      outA(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
    outA
  }

  // ---- frame model -----------------------------------------------------------

  /** One macroblock's coded content. Coefficient arrays are quantized
    * LEVELS in ZIGZAG SCAN order (the coder's native order); `y` is 16
    * subblocks in raster order. For 16×16 modes, each Y block's scan
    * position 0 is IGNORED (the DC travels through `y2`); for B_PRED
    * there is NO Y2 block (y2 must be all-zero), Y blocks carry their
    * own DC, and `bModes` gives the 16 per-subblock intra modes. */
  final case class MbCoding(yMode: Int, uvMode: Int,
      y2: Array[Int], y: Array[Array[Int]],
      u: Array[Array[Int]], v: Array[Array[Int]],
      bModes: Array[Int] = Array.empty, skip: Boolean = false,
      segment: Int = 0) {
    require(segment >= 0 && segment <= 3, s"vp8: segment $segment")
    if (skip) require((y2.iterator ++ y.iterator.flatten ++
      u.iterator.flatten ++ v.iterator.flatten).forall(_ == 0),
      "vp8: mb_skip_coeff on a macroblock with nonzero levels")
    require(yMode >= 0 && yMode <= BPred,
      s"vp8: yMode $yMode (inter modes are out of scope)")
    require(uvMode >= 0 && uvMode <= TmPred, s"vp8: uvMode $uvMode")
    require(y2.length == 16 && y.length == 16 && u.length == 4 &&
      v.length == 4, "vp8: block shape")
    if (yMode == BPred) {
      require(bModes.length == 16 && bModes.forall(m => m >= 0 && m <= BHu),
        "vp8: B_PRED needs 16 valid submodes")
      require(y2.forall(_ == 0), "vp8: B_PRED macroblocks have no Y2 block")
    } else require(bModes.isEmpty, "vp8: submodes without B_PRED")
    require((y2.iterator ++ y.iterator.flatten ++ u.iterator.flatten ++
      v.iterator.flatten).forall(l => math.abs(l) <= MaxLevel),
      s"vp8: coefficient level beyond cat6's $MaxLevel")
  }

  final case class KeyFrame(width: Int, height: Int, qindex: Int,
      mbs: Vector[MbCoding], filterLevel: Int = 0,
      skipEnabled: Boolean = false, qDeltas: QDeltas = QDeltas(),
      tokenPartitions: Int = 1,
      segmentation: Option[Segmentation] = None,
      normalFilter: Boolean = false,
      sharpness: Int = 0,
      lfDeltaEnabled: Boolean = false,
      lfDeltaUpdate: Option[LfDeltaUpdate] = None,
      refreshEntropy: Boolean = true,
      coeffUpdates: Vector[CoeffUpdate] = Vector.empty,
      widthScale: Int = 0, heightScale: Int = 0) {
    require(widthScale >= 0 && widthScale <= 3 &&
      heightScale >= 0 && heightScale <= 3,
      "vp8: §9.1 scale codes are 2 bits")
    require(sharpness >= 0 && sharpness <= 7, s"vp8: sharpness $sharpness")
    require(lfDeltaEnabled || lfDeltaUpdate.isEmpty,
      "vp8: lf-delta update without the enable flag")
    require(coeffUpdates.map(u => (u.blockType, u.band, u.ctx, u.node))
      .distinct.size == coeffUpdates.size,
      "vp8: duplicate coefficient-probability update cell")
    require(Seq(1, 2, 4, 8).contains(tokenPartitions),
      s"vp8: $tokenPartitions token partitions (1/2/4/8)")
    require(segmentation.isDefined || mbs.forall(_.segment == 0),
      "vp8: segment ids need segmentation enabled in the header")
    require(skipEnabled || mbs.forall(!_.skip),
      "vp8: skipped MBs need mb_no_coeff_skip enabled in the header")
    require(width > 0 && height > 0, s"vp8: $width x $height")
    require(qindex >= 0 && qindex < 128, s"vp8: qindex $qindex")
    require(filterLevel >= 0 && filterLevel < 64,
      s"vp8: loop filter level $filterLevel")
    require(mbs.length == (pad16(width) / 16) * (pad16(height) / 16),
      s"vp8: ${mbs.length} MBs for a ${pad16(width) / 16}x" +
        s"${pad16(height) / 16} padded grid")
  }

  /** §9.1 display cropping: the CODED frame rounds the display
    * dimensions up to whole macroblocks; the pad region decodes
    * normally (and feeds inter prediction) while display CROPS. */
  def pad16(v: Int): Int = (v + 15) / 16 * 16

  /** §9.1 upscaling ratios named by the 2-bit scale codes: 0 → 1/1,
    * 1 → 5/4, 2 → 5/3, 3 → 2/1. Scaling is a DISPLAY-time transform —
    * reconstruction and all reference buffers stay at the coded
    * dimensions (RFC 6386 §9.1). */
  def scaleRatio(code: Int): (Int, Int) = code match {
    case 0 => (1, 1)
    case 1 => (5, 4)
    case 2 => (5, 3)
    case 3 => (2, 1)
    case other =>
      throw new IllegalArgumentException(s"vp8: scale code $other")
  }

  /** Display dimension under a scale code (ceil — the RFC names the
    * ratios but not the rounding; documented stand-in). */
  def upscaleDim(v: Int, code: Int): Int = {
    val (n, d) = scaleRatio(code)
    (v * n + d - 1) / d
  }

  /** Display upscaler for one plane: NEAREST-NEIGHBOR with source
    * index ⌊out·den/num⌋ — the RFC does not specify the resample
    * kernel (libvpx uses its own postproc filter), so the kernel is a
    * documented stand-in while the RATIO TABLE and the display-time
    * placement are the normative parts. */
  def upscale(plane: Array[Int], w: Int, h: Int, wCode: Int,
      vCode: Int): Array[Int] = {
    require(plane.length == w * h, "vp8: plane shape")
    val ow = upscaleDim(w, wCode); val oh = upscaleDim(h, vCode)
    val (hn, hd) = scaleRatio(wCode)
    val (vn, vd) = scaleRatio(vCode)
    Array.tabulate(ow * oh) { i =>
      val x = i % ow; val y = i / ow
      plane((y * vd / vn) * w + (x * hd / hn))
    }
  }

  /** Crop a padded plane (stride `padW`) to its display window. */
  def crop(plane: Array[Int], padW: Int, w: Int, h: Int): Array[Int] =
    if (padW == w && plane.length == w * h) plane
    else Array.tabulate(w * h)(i => plane((i / w) * padW + i % w))

  /** Decoded planes are the CODED (macroblock-padded) frame — the
    * reference-buffer content inter frames predict from; `frame`
    * carries the display dimensions, [[crop]] extracts the display
    * window (luma at pad16(width), chroma at pad16(width)/2). */
  final case class Decoded(frame: KeyFrame, y: Array[Int],
      u: Array[Int], v: Array[Int])

  // ---- token coding [§13] ----------------------------------------------------

  /** Shared nonzero-context state for one frame walk: above flags per
    * 4×4 column, left flags per 4×4 row within the current MB row. */
  private final class NzCtx(mbCols: Int) {
    val aboveY = new Array[Boolean](4 * mbCols)
    val aboveU = new Array[Boolean](2 * mbCols)
    val aboveV = new Array[Boolean](2 * mbCols)
    val aboveY2 = new Array[Boolean](mbCols)
    val leftY = new Array[Boolean](4)
    val leftU = new Array[Boolean](2)
    val leftV = new Array[Boolean](2)
    var leftY2 = false
    def resetLeft(): Unit = {
      java.util.Arrays.fill(leftY, false)
      java.util.Arrays.fill(leftU, false)
      java.util.Arrays.fill(leftV, false)
      leftY2 = false
    }
  }

  /** §9.11/§13.4: a skipped MB codes no tokens and its nonzero
    * contexts read as all-zero for the neighbors that follow; the Y2
    * entry resets only for modes that HAVE a Y2 block. */
  private def resetMbNz(nz: NzCtx, mc: Int, resetY2: Boolean): Unit = {
    var i = 0
    while (i < 4) {
      nz.aboveY(mc * 4 + i) = false; nz.leftY(i) = false; i += 1
    }
    i = 0
    while (i < 2) {
      nz.aboveU(mc * 2 + i) = false; nz.leftU(i) = false
      nz.aboveV(mc * 2 + i) = false; nz.leftV(i) = false
      i += 1
    }
    if (resetY2) { nz.aboveY2(mc) = false; nz.leftY2 = false }
  }

  /** Decode one block's levels (scan order); returns (levels, anyNz). */
  private def decodeBlock(d: BoolDecoder, blockType: Int, firstCoeff: Int,
      ctx0: Int, table: Array[Array[Array[Array[Int]]]])
      : (Array[Int], Boolean) = {
    val levels = new Array[Int](16)
    var ctx = ctx0
    var pos = firstCoeff
    var afterZero = false
    var anyNz = false
    while (pos < 16) {
      val probs = table(blockType)(CoeffBands(pos))(ctx)
      val leaf = d.tree(CoeffTree, probs, if (afterZero) 2 else 0)
      if (leaf == TokEob) return (levels, anyNz)
      val mag =
        if (leaf <= 4) leaf
        else {
          val cat = leaf - 5
          var extra = 0
          val ps = CatProbs(cat)
          var i = 0
          while (i < CatBits(cat)) {
            extra = (extra << 1) | d.bool(ps(i)); i += 1
          }
          CatBase(cat) + extra
        }
      if (mag == 0) {
        afterZero = true; ctx = 0
      } else {
        val sign = d.bool(128)
        levels(pos) = if (sign == 1) -mag else mag
        anyNz = true
        afterZero = false
        ctx = if (mag == 1) 1 else 2
      }
      pos += 1
    }
    (levels, anyNz)
  }

  /** Encode one block's scan-order levels; mirrors [[decodeBlock]]. */
  private def encodeBlock(e: BoolEncoder, blockType: Int, firstCoeff: Int,
      ctx0: Int, levels: Array[Int],
      table: Array[Array[Array[Array[Int]]]]): Boolean = {
    var last = 15
    while (last >= firstCoeff && levels(last) == 0) last -= 1
    var ctx = ctx0
    var pos = firstCoeff
    var afterZero = false
    var anyNz = false
    while (pos <= last) {
      val probs = table(blockType)(CoeffBands(pos))(ctx)
      val v = levels(pos)
      val mag = math.abs(v)
      val leaf =
        if (mag <= 4) mag
        else {
          var cat = 5
          while (cat < 10 && mag >= CatBase(cat - 4)) cat += 1
          cat // 5..10 → cat1..cat6
        }
      e.tree(CoeffTree, probs, leaf, if (afterZero) 2 else 0)
      if (mag > 4) {
        val cat = leaf - 5
        val extra = mag - CatBase(cat)
        val ps = CatProbs(cat)
        var i = CatBits(cat) - 1
        var j = 0
        while (i >= 0) { e.bool((extra >> i) & 1, ps(j)); i -= 1; j += 1 }
      }
      if (mag == 0) { afterZero = true; ctx = 0 }
      else {
        e.bool(if (v < 0) 1 else 0, 128)
        anyNz = true; afterZero = false
        ctx = if (mag == 1) 1 else 2
      }
      pos += 1
    }
    if (last < 15) {
      val probs = table(blockType)(CoeffBands(math.max(firstCoeff,
        last + 1)))(ctx)
      e.tree(CoeffTree, probs, TokEob, if (afterZero) 2 else 0)
    }
    anyNz
  }

  // ---- prediction [§12.2] ----------------------------------------------------

  /** Fill `pred` (size×size raster) for one plane block at (px,py).
    * Frame-edge conventions: missing above row reads 127, missing left
    * column 129; the above-left sample follows the available edge
    * (127 when the above row is synthetic, else 129 when only the left
    * is synthetic). */
  private def predict(plane: Array[Int], stride: Int, px: Int, py: Int,
      size: Int, mode: Int, pred: Array[Int]): Unit = {
    val hasAbove = py > 0
    val hasLeft = px > 0
    def above(x: Int): Int = if (hasAbove) plane((py - 1) * stride + px + x) else 127
    def left(y: Int): Int = if (hasLeft) plane((py + y) * stride + px - 1) else 129
    def aboveLeft: Int =
      if (hasAbove && hasLeft) plane((py - 1) * stride + px - 1)
      else if (!hasAbove) 127
      else 129
    mode match {
      case DcPred =>
        val dc =
          if (!hasAbove && !hasLeft) 128
          else {
            var s = 0; var n = 0
            if (hasAbove) { var x = 0; while (x < size) { s += above(x); x += 1 }; n += size }
            if (hasLeft) { var y = 0; while (y < size) { s += left(y); y += 1 }; n += size }
            val shift = Integer.numberOfTrailingZeros(n)
            (s + (n >> 1)) >> shift
          }
        java.util.Arrays.fill(pred, 0, size * size, dc)
      case VPred =>
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) { pred(y * size + x) = above(x); x += 1 }
          y += 1
        }
      case HPred =>
        var y = 0
        while (y < size) {
          val l = left(y)
          var x = 0
          while (x < size) { pred(y * size + x) = l; x += 1 }
          y += 1
        }
      case TmPred =>
        val p = aboveLeft
        var y = 0
        while (y < size) {
          val l = left(y)
          var x = 0
          while (x < size) {
            pred(y * size + x) = math.max(0, math.min(255, l + above(x) - p))
            x += 1
          }
          y += 1
        }
      case m => throw new IllegalArgumentException(s"vp8: predictor $m")
    }
  }

  /** 4×4 subblock predictor [§12.3]. Edge samples come from the RECON
    * plane in raster decode order with the 127/129 synthetic frame
    * edges of [[predict]]; the four above-right samples are real when
    * raster order has already reconstructed them (previous MB row, or
    * the row above within this MB) and replicate A3 otherwise. The
    * half-step modes (VR/VL/HD/HU) implement the §12.3 avg2/avg3
    * lattices as coded here — their exact cell maps are appendix
    * detail this sandbox cannot re-verify, so Vp8Spec hash-pins the
    * implemented lattice (the codec is self-consistent regardless,
    * and the straight modes DC/TM/VE/HE/LD/RD are the normative
    * averages). */
  private def predict4(plane: Array[Int], stride: Int, width: Int,
      px: Int, py: Int, mode: Int, pred: Array[Int]): Unit = {
    val hasAbove = py > 0
    val hasLeft = px > 0
    // e(i) = the RD/VR/HD edge run [L3, L2, L1, L0, AL, A0..A3];
    // a(i) = A(i-1) for i in 0..8 (above-left, above, above-right)
    val a = new Array[Int](9)
    var i = -1
    while (i <= 7) {
      val x = px + i
      a(i + 1) =
        if (!hasAbove) 127
        else if (x < 0) 129
        else if (x < width && (i <= 3 || py % 16 == 0 || x / 16 == px / 16))
          plane((py - 1) * stride + x)
        else a(4) // replicate A3 where raster order hasn't reached
      i += 1
    }
    val l = Array.tabulate(4)(r =>
      if (hasLeft) plane((py + r) * stride + px - 1) else 129)
    val e = Array(l(3), l(2), l(1), l(0), a(0), a(1), a(2), a(3), a(4))
    def avg2(x: Int, y: Int): Int = (x + y + 1) >> 1
    def avg3(x: Int, y: Int, z: Int): Int = (x + 2 * y + z + 2) >> 2
    def set(r: Int, c: Int, v: Int): Unit = pred(r * 4 + c) = v
    mode match {
      case BDc =>
        val dc = (a(1) + a(2) + a(3) + a(4) + l(0) + l(1) + l(2) + l(3)
          + 4) >> 3
        java.util.Arrays.fill(pred, 0, 16, dc)
      case BTm =>
        for (r <- 0 until 4; c <- 0 until 4)
          set(r, c, math.max(0, math.min(255, l(r) + a(c + 1) - a(0))))
      case BVe =>
        for (r <- 0 until 4; c <- 0 until 4)
          set(r, c, avg3(a(c), a(c + 1), a(c + 2)))
      case BHe =>
        val rows = Array(avg3(a(0), l(0), l(1)), avg3(l(0), l(1), l(2)),
          avg3(l(1), l(2), l(3)), avg3(l(2), l(3), l(3)))
        for (r <- 0 until 4; c <- 0 until 4) set(r, c, rows(r))
      case BLd =>
        for (r <- 0 until 4; c <- 0 until 4) {
          val i2 = r + c
          set(r, c, if (i2 < 6) avg3(a(i2 + 1), a(i2 + 2), a(i2 + 3))
            else avg3(a(7), a(8), a(8)))
        }
      case BRd =>
        for (r <- 0 until 4; c <- 0 until 4) {
          val o = 4 + c - r
          set(r, c, avg3(e(o - 1), e(o), e(o + 1)))
        }
      case BVr =>
        for (c <- 0 until 4) {
          set(0, c, avg2(e(4 + c), e(5 + c)))
          set(1, c, avg3(e(3 + c), e(4 + c), e(5 + c)))
        }
        set(2, 0, avg3(e(2), e(3), e(4)))
        set(3, 0, avg3(e(1), e(2), e(3)))
        for (c <- 1 until 4) {
          set(2, c, pred(0 * 4 + c - 1)); set(3, c, pred(1 * 4 + c - 1))
        }
      case BVl =>
        for (c <- 0 until 4) {
          set(0, c, avg2(a(c + 1), a(c + 2)))
          set(1, c, avg3(a(c + 1), a(c + 2), a(c + 3)))
          set(2, c, avg2(a(c + 2), a(c + 3)))
          set(3, c, avg3(a(c + 2), a(c + 3), a(math.min(8, c + 4))))
        }
      case BHd =>
        for (r <- 0 until 4) {
          set(r, 0, avg2(e(3 - r), e(4 - r)))
          set(r, 1, avg3(e(3 - r), e(4 - r), e(5 - r)))
        }
        set(0, 2, avg3(e(4), e(5), e(6))); set(0, 3, avg3(e(5), e(6), e(7)))
        for (r <- 1 until 4; c <- 2 until 4)
          set(r, c, pred((r - 1) * 4 + c - 2))
      case BHu =>
        set(0, 0, avg2(l(0), l(1))); set(0, 1, avg3(l(0), l(1), l(2)))
        set(0, 2, avg2(l(1), l(2))); set(0, 3, avg3(l(1), l(2), l(3)))
        set(1, 0, pred(2)); set(1, 1, pred(3))
        set(1, 2, avg2(l(2), l(3))); set(1, 3, avg3(l(2), l(3), l(3)))
        set(2, 0, pred(6)); set(2, 1, pred(7))
        set(2, 2, l(3)); set(2, 3, l(3))
        for (c <- 0 until 4) set(3, c, l(3))
      case m => throw new IllegalArgumentException(s"vp8: submode $m")
    }
  }

  /** Dequantize scan-order levels into a raster coefficient block. */
  private def dequantToRaster(levels: Array[Int], dcFac: Int, acFac: Int,
      dcOverride: Option[Int]): Array[Int] = {
    val out = new Array[Int](16)
    var s = 0
    while (s < 16) {
      out(Zigzag(s)) = levels(s) * (if (s == 0) dcFac else acFac)
      s += 1
    }
    dcOverride.foreach(d => out(0) = d)
    out
  }

  private def addResidual(plane: Array[Int], stride: Int, px: Int, py: Int,
      res: Array[Int]): Unit = {
    var y = 0
    while (y < 4) {
      var x = 0
      while (x < 4) {
        val i = (py + y) * stride + px + x
        plane(i) = math.max(0, math.min(255, plane(i) + res(y * 4 + x)))
        x += 1
      }
      y += 1
    }
  }

  /** §9.5: the token-partition area — each partition but the last is
    * preceded by nothing; their SIZES (3-byte little-endian each, for
    * all but the last) sit between the first partition and the token
    * data. MB row r codes into partition r mod count. */
  private def assemblePartitions(parts: Seq[Array[Byte]]): Array[Byte] = {
    val sizes = parts.dropRight(1).flatMap { p =>
      require(p.length < (1 << 24), "vp8: token partition over 3 bytes")
      Array((p.length & 0xff).toByte, ((p.length >> 8) & 0xff).toByte,
        ((p.length >> 16) & 0xff).toByte)
    }
    sizes.toArray ++ parts.flatten
  }

  private def splitPartitions(payload: Array[Byte], from: Int,
      count: Int): Array[BoolDecoder] = {
    var pos = from + 3 * (count - 1)
    require(pos <= payload.length, "vp8: partition size table overrun")
    val out = new Array[BoolDecoder](count)
    var i = 0
    while (i < count - 1) {
      val o = from + 3 * i
      val sz = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
        ((payload(o + 2) & 0xff) << 16)
      require(pos + sz <= payload.length,
        s"vp8: token partition $i ($sz B) overruns the payload")
      out(i) = new BoolDecoder(payload, pos, pos + sz)
      pos += sz
      i += 1
    }
    out(count - 1) = new BoolDecoder(payload, pos, payload.length)
    out
  }

  // ---- frame encode/decode ---------------------------------------------------

  /** Encode a keyframe to a complete VP8 frame payload: uncompressed
    * tag + start code + dimensions [§9.1], bool-coded first partition
    * (header + modes), then the single token partition. When `ctx` is
    * supplied, its profile wins and its entropy/lf-delta state is
    * updated with the §9.7 persistence semantics (key frames reset it
    * first). */
  def encode(f: KeyFrame, profile: Profile = Profile.StandIn,
      ctx: Ctx = null): Array[Byte] = {
    val cx = if (ctx != null) ctx else new Ctx(profile)
    val prof = cx.profile
    cx.entropy.resetTo(prof) // key frames reset the whole state [§9.7]
    val mbCols = pad16(f.width) / 16
    val mbRows = pad16(f.height) / 16
    // first partition: frame header [§9.2-§9.11], then per-MB modes
    val h = new BoolEncoder
    h.literal(0, 1) // color_space: YUV as specified
    h.literal(0, 1) // clamping_type: spec clamping
    writeSegmentation(h, f.segmentation, cx)
    // filter_type [§9.4]: 0 = normal, 1 = simple
    h.literal(if (f.filterLevel > 0 && !f.normalFilter) 1 else 0, 1)
    h.literal(f.filterLevel, 6)
    h.literal(f.sharpness, 3) // sharpness_level [§9.4/§15.2]
    writeLfDeltas(h, f.lfDeltaEnabled, f.lfDeltaUpdate, cx)
    h.literal(Integer.numberOfTrailingZeros(f.tokenPartitions), 2)
    h.literal(f.qindex, 7) // y_ac_qi
    writeQDeltas(h, f.qDeltas) // the five per-plane deltas [§9.6]
    h.literal(if (f.refreshEntropy) 1 else 0, 1) // refresh_entropy_probs
    val savedEntropy =
      if (f.refreshEntropy) null else cx.entropy.snapshot
    writeCoeffUpdates(h, f.coeffUpdates, prof, cx)
    h.literal(if (f.skipEnabled) 1 else 0, 1) // mb_no_coeff_skip [§9.11]
    if (f.skipEnabled) h.literal(ProbSkipFalse, 8) // prob_skip_false
    // per-MB modes with the submode context grid [§11.4]: B_PRED
    // submodes are coded against (above, left) neighbor submodes;
    // whole-MB neighbors enter as their subEquiv
    val aboveSub = Array.fill(4 * mbCols)(BDc)
    val leftSub = new Array[Int](4)
    var mr0 = 0
    while (mr0 < mbRows) {
      java.util.Arrays.fill(leftSub, BDc)
      var mc0 = 0
      while (mc0 < mbCols) {
        val mb = f.mbs(mr0 * mbCols + mc0)
        f.segmentation.foreach { g =>
          if (g.updateMap) h.tree(SegmentTree, g.mapProbs, mb.segment)
          else require(cx.segMap != null &&
            cx.segMap.length == f.mbs.length &&
            cx.segMap(mr0 * mbCols + mc0) == mb.segment,
            "vp8: update_mb_segmentation_map = 0 but the frame's " +
              "segment ids disagree with the remembered map")
        }
        if (f.skipEnabled) h.bool(if (mb.skip) 1 else 0, ProbSkipFalse)
        h.tree(KfYmodeTree, KfYmodeProb, mb.yMode)
        if (mb.yMode == BPred) {
          var by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val m = mb.bModes(by * 4 + bx)
              h.tree(BmodeTree,
                prof.bmodeProbs(aboveSub(mc0 * 4 + bx))(leftSub(by)), m)
              aboveSub(mc0 * 4 + bx) = m; leftSub(by) = m
              bx += 1
            }
            by += 1
          }
        } else {
          val eq = subEquiv(mb.yMode)
          var k = 0
          while (k < 4) { aboveSub(mc0 * 4 + k) = eq; leftSub(k) = eq; k += 1 }
        }
        h.tree(UvModeTree, KfUvModeProb, mb.uvMode)
        mc0 += 1
      }
      mr0 += 1
    }
    val part1 = h.stop()

    // token partitions, with the nonzero-context planes [§13.4]: MB
    // row r codes into partition r mod count [§9.5]
    val es = Array.fill(f.tokenPartitions)(new BoolEncoder)
    val nz = new NzCtx(mbCols)
    var mr = 0
    while (mr < mbRows) {
      val e = es(mr % f.tokenPartitions)
      nz.resetLeft()
      var mc = 0
      while (mc < mbCols) {
        val mb = f.mbs(mr * mbCols + mc)
        val isB = mb.yMode == BPred
        if (mb.skip) { resetMbNz(nz, mc, resetY2 = !isB); mc += 1 }
        else {
        if (!isB) {
          // Y2 (block type 1): one flag per MB; a B_PRED MB has no Y2
          // and leaves the Y2 context plane untouched [§13.4]
          val y2Ctx = (if (nz.aboveY2(mc)) 1 else 0) + (if (nz.leftY2) 1 else 0)
          val y2Nz = encodeBlock(e, 1, 0, y2Ctx, mb.y2, cx.entropy.coeff)
          nz.aboveY2(mc) = y2Nz; nz.leftY2 = y2Nz
        }
        // 16 Y blocks: type 0 starting at coeff 1 under a Y2 block,
        // type 3 with their own DC under B_PRED
        val (yType, yFirst) = if (isB) (3, 0) else (0, 1)
        var by = 0
        while (by < 4) {
          var bx = 0
          while (bx < 4) {
            val ctx = (if (nz.aboveY(mc * 4 + bx)) 1 else 0) +
              (if (nz.leftY(by)) 1 else 0)
            val bNz = encodeBlock(e, yType, yFirst, ctx, mb.y(by * 4 + bx),
              cx.entropy.coeff)
            nz.aboveY(mc * 4 + bx) = bNz; nz.leftY(by) = bNz
            bx += 1
          }
          by += 1
        }
        // chroma (type 2), u then v
        def chroma(blocks: Array[Array[Int]], aboveP: Array[Boolean],
            leftP: Array[Boolean]): Unit = {
          var cy = 0
          while (cy < 2) {
            var ccx = 0
            while (ccx < 2) {
              val ctx = (if (aboveP(mc * 2 + ccx)) 1 else 0) +
                (if (leftP(cy)) 1 else 0)
              val bNz = encodeBlock(e, 2, 0, ctx, blocks(cy * 2 + ccx),
                cx.entropy.coeff)
              aboveP(mc * 2 + ccx) = bNz; leftP(cy) = bNz
              ccx += 1
            }
            cy += 1
          }
        }
        chroma(mb.u, nz.aboveU, nz.leftU)
        chroma(mb.v, nz.aboveV, nz.leftV)
        mc += 1
        }
      }
      mr += 1
    }
    if (f.segmentation.isDefined)
      cx.segMap = f.mbs.map(_.segment).toArray
    if (savedEntropy != null) cx.entropy.restoreFrom(savedEntropy)
    graft.sources.Ivf.vp8Frame(keyframe = true, version = 0,
      showFrame = true, f.width, f.height, part1,
      widthScale = f.widthScale, heightScale = f.heightScale) ++
      assemblePartitions(es.map(_.stop()).toSeq)
  }

  /** Decode a keyframe payload back to coded levels + reconstructed
    * planes. Every subset boundary fails loudly by name. When `ctx`
    * is supplied, its profile wins and its entropy/lf-delta state
    * evolves per §9.7/§9.4 (key frames reset the entropy first). */
  def decode(payload: Array[Byte], profile: Profile = Profile.StandIn,
      ctx: Ctx = null): Decoded = {
    val cx = if (ctx != null) ctx else new Ctx(profile)
    val prof = cx.profile
    cx.entropy.resetTo(prof) // key frames reset the whole state [§9.7]
    val tag = graft.sources.Ivf.parseVp8Tag(payload)
    require(tag.keyframe, "vp8: not a keyframe (inter frames out of scope)")
    // §9.1 scale codes: display-time upscaling only — the coded and
    // reference planes stay at the header dimensions; callers apply
    // [[upscale]] with the tag's codes for presentation
    val dispW = tag.width; val dispH = tag.height
    // §9.1: internal reconstruction runs on the macroblock-padded
    // frame; the returned frame records the display dims
    val width = pad16(dispW); val height = pad16(dispH)
    val mbCols = width / 16; val mbRows = height / 16
    val p1End = 10 + tag.firstPartSize
    require(p1End <= payload.length,
      s"vp8: first partition (${tag.firstPartSize} B) overruns the payload")

    val h = new BoolDecoder(payload, 10, p1End)
    require(h.literal(1) == 0, "vp8: reserved color space")
    h.literal(1) // clamping_type (both values legal; spec clamp used)
    val segmentation = readSegmentation(h, cx)
    val filterType = h.literal(1)
    val filterLevel = h.literal(6)
    val sharpness = h.literal(3)
    val (lfDeltaEnabled, lfDeltaUpdate) = readLfDeltas(h, cx)
    val tokenPartitions = 1 << h.literal(2)
    val qindex = h.literal(7)
    val qDeltas = readQDeltas(h)
    val refreshEntropy = h.literal(1) == 1
    val savedEntropy = if (refreshEntropy) null else cx.entropy.snapshot
    val coeffUpdates = readCoeffUpdates(h, prof, cx)
    val skipEnabled = h.literal(1) == 1
    val probSkip = if (skipEnabled) h.literal(8) else 0
    val modes = {
      val out = Vector.newBuilder[(Boolean, Int, Int, Array[Int], Int)]
      val aboveSub = Array.fill(4 * mbCols)(BDc)
      val leftSub = new Array[Int](4)
      var mr0 = 0
      while (mr0 < mbRows) {
        java.util.Arrays.fill(leftSub, BDc)
        var mc0 = 0
        while (mc0 < mbCols) {
          val segId = segmentation match {
            case Some(g) if g.updateMap =>
              h.tree(SegmentTree, g.mapProbs)
            case Some(_) =>
              require(cx.segMap != null &&
                cx.segMap.length == mbCols * mbRows,
                "vp8: update_mb_segmentation_map = 0 without a " +
                  "remembered map of this geometry")
              cx.segMap(mr0 * mbCols + mc0)
            case None => 0
          }
          val sk = skipEnabled && h.bool(probSkip) == 1
          val ym = h.tree(KfYmodeTree, KfYmodeProb)
          val bms =
            if (ym == BPred) Array.tabulate(16) { k =>
              val (by, bx) = (k / 4, k % 4)
              val m = h.tree(BmodeTree,
                prof.bmodeProbs(aboveSub(mc0 * 4 + bx))(leftSub(by)))
              aboveSub(mc0 * 4 + bx) = m; leftSub(by) = m
              m
            }
            else {
              val eq = subEquiv(ym)
              var k = 0
              while (k < 4) {
                aboveSub(mc0 * 4 + k) = eq; leftSub(k) = eq; k += 1
              }
              Array.empty[Int]
            }
          val uvm = h.tree(UvModeTree, KfUvModeProb)
          out += ((sk, ym, uvm, bms, segId))
          mc0 += 1
        }
        mr0 += 1
      }
      out.result()
    }

    val ds = splitPartitions(payload, p1End, tokenPartitions)
    val dqs = segmentDequants(qindex, segmentation, prof, qDeltas)
    val yP = new Array[Int](width * height)
    val uP = new Array[Int]((width / 2) * (height / 2))
    val vP = new Array[Int]((width / 2) * (height / 2))
    val nz = new NzCtx(mbCols)
    val pred16 = new Array[Int](256)
    val pred8 = new Array[Int](64)
    val mbsOut = Vector.newBuilder[MbCoding]
    var mr = 0
    while (mr < mbRows) {
      val d = ds(mr % tokenPartitions)
      nz.resetLeft()
      var mc = 0
      while (mc < mbCols) {
        val (sk, ym, uvm, bms, segId) = modes(mr * mbCols + mc)
        val dq = dqs(segId)
        val isB = ym == BPred
        // ---- tokens (a B_PRED MB has no Y2 block and leaves the Y2
        // context plane untouched [§13.4]); a SKIPPED MB codes none
        // and its contexts read as zero [§9.11]
        val y2L =
          if (isB || sk) new Array[Int](16)
          else {
            val y2Ctx = (if (nz.aboveY2(mc)) 1 else 0) +
              (if (nz.leftY2) 1 else 0)
            val (lv, y2Nz) = decodeBlock(d, 1, 0, y2Ctx, cx.entropy.coeff)
            nz.aboveY2(mc) = y2Nz; nz.leftY2 = y2Nz
            lv
          }
        val (yType, yFirst) = if (isB) (3, 0) else (0, 1)
        val yL = Array.fill(16)(new Array[Int](16))
        if (sk) resetMbNz(nz, mc, resetY2 = !isB)
        else {
          var by0 = 0
          while (by0 < 4) {
            var bx = 0
            while (bx < 4) {
              val ctx = (if (nz.aboveY(mc * 4 + bx)) 1 else 0) +
                (if (nz.leftY(by0)) 1 else 0)
              val (lv, bNz) = decodeBlock(d, yType, yFirst, ctx,
                cx.entropy.coeff)
              yL(by0 * 4 + bx) = lv
              nz.aboveY(mc * 4 + bx) = bNz; nz.leftY(by0) = bNz
              bx += 1
            }
            by0 += 1
          }
        }
        def chroma(aboveP: Array[Boolean], leftP: Array[Boolean])
            : Array[Array[Int]] = {
          val out = new Array[Array[Int]](4)
          var cy = 0
          while (cy < 2) {
            var ccx = 0
            while (ccx < 2) {
              val ctx = (if (aboveP(mc * 2 + ccx)) 1 else 0) +
                (if (leftP(cy)) 1 else 0)
              val (lv, bNz) = decodeBlock(d, 2, 0, ctx, cx.entropy.coeff)
              out(cy * 2 + ccx) = lv
              aboveP(mc * 2 + ccx) = bNz; leftP(cy) = bNz
              ccx += 1
            }
            cy += 1
          }
          out
        }
        val uL = if (sk) Array.fill(4)(new Array[Int](16))
          else chroma(nz.aboveU, nz.leftU)
        val vL = if (sk) Array.fill(4)(new Array[Int](16))
          else chroma(nz.aboveV, nz.leftV)
        mbsOut += MbCoding(ym, uvm, y2L, yL, uL, vL, bms, skip = sk,
          segment = segId)

        // ---- reconstruction
        var by = 0
        if (isB) {
          // B_PRED interleaves: each 4×4 block predicts from pixels the
          // raster walk ALREADY reconstructed (including this MB's own
          // earlier subblocks), then adds its own-DC residual (type 3)
          val p4 = new Array[Int](16)
          by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val px = mc * 16 + bx * 4
              val py = mr * 16 + by * 4
              predict4(yP, width, width, px, py, bms(by * 4 + bx), p4)
              val res = idct4x4(dequantToRaster(yL(by * 4 + bx),
                dq.ydc, dq.yac, None))
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  yP((py + yy) * width + px + xx) = math.max(0,
                    math.min(255, p4(yy * 4 + xx) + res(yy * 4 + xx)))
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
        } else {
          // 16×16 modes: whole-MB prediction, then per-subblock
          // residuals with the Y2-carried DCs
          predict(yP, width, mc * 16, mr * 16, 16, ym, pred16)
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              yP((mr * 16 + yy) * width + mc * 16 + xx) = pred16(yy * 16 + xx)
              xx += 1
            }
            yy += 1
          }
          // Y2: dequant levels, inverse WHT → the 16 Y DCs (already in
          // the dequantized domain, no further scaling [§14.3])
          val y2Coef = new Array[Int](16)
          var s = 0
          while (s < 16) {
            y2Coef(Zigzag(s)) = y2L(s) * (if (s == 0) dq.y2dc else dq.y2ac)
            s += 1
          }
          val dcs = iwalsh4x4(y2Coef)
          by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val raster = dequantToRaster(yL(by * 4 + bx), dq.ydc, dq.yac,
                Some(dcs(by * 4 + bx)))
              addResidual(yP, width, mc * 16 + bx * 4, mr * 16 + by * 4,
                idct4x4(raster))
              bx += 1
            }
            by += 1
          }
        }
        def chromaRecon(plane: Array[Int], blocks: Array[Array[Int]]): Unit = {
          val cs = width / 2
          predict(plane, cs, mc * 8, mr * 8, 8, uvm, pred8)
          var yy2 = 0
          while (yy2 < 8) {
            var xx = 0
            while (xx < 8) {
              plane((mr * 8 + yy2) * cs + mc * 8 + xx) = pred8(yy2 * 8 + xx)
              xx += 1
            }
            yy2 += 1
          }
          var cy = 0
          while (cy < 2) {
            var cx = 0
            while (cx < 2) {
              val raster = dequantToRaster(blocks(cy * 2 + cx), dq.uvdc,
                dq.uvac, None)
              addResidual(plane, cs, mc * 8 + cx * 4, mr * 8 + cy * 4,
                idct4x4(raster))
              cx += 1
            }
            cy += 1
          }
        }
        chromaRecon(uP, uL)
        chromaRecon(vP, vL)
        mc += 1
      }
      mr += 1
    }
    val mbs = mbsOut.result()
    if (segmentation.isDefined) cx.segMap = mbs.map(_.segment).toArray
    val normal = filterLevel > 0 && filterType == 0
    if (filterLevel > 0) {
      // per-MB filter levels [§9.3/§9.4]: the segment lf feature sets
      // the base, intra frames take the intra ref delta, mode delta
      // slot 0 applies only to B_PRED. Interior edges are skipped for
      // coefficientless whole-MB-mode MBs [§15.1/§15.2].
      val lfLevels = Array.tabulate(mbs.length) { i =>
        val mb = mbs(i)
        mbFilterLevel(segLfBase(filterLevel, segmentation, mb.segment),
          lfDeltaEnabled, cx, ref = 0,
          modeSlot = if (mb.yMode == BPred) 0 else -1)
      }
      val lfInterior = Array.tabulate(mbs.length) { i =>
        val mb = mbs(i)
        mb.yMode == BPred || hasCoeffs(mb.y2, mb.y, mb.u, mb.v)
      }
      if (normal) {
        normalLoopFilter(yP, width, height, lfLevels, sharpness,
          keyframe = true, mbSize = 16, lfInterior)
        normalLoopFilter(uP, width / 2, height / 2, lfLevels, sharpness,
          keyframe = true, mbSize = 8, lfInterior)
        normalLoopFilter(vP, width / 2, height / 2, lfLevels, sharpness,
          keyframe = true, mbSize = 8, lfInterior)
      } else simpleLoopFilter(yP, width, height, lfLevels, sharpness,
        lfInterior)
    }
    if (savedEntropy != null) cx.entropy.restoreFrom(savedEntropy)
    Decoded(KeyFrame(dispW, dispH, qindex, mbs, filterLevel,
      skipEnabled, qDeltas, tokenPartitions, segmentation, normal,
      sharpness, lfDeltaEnabled, lfDeltaUpdate, refreshEntropy,
      coeffUpdates), yP, uP, vP)
  }

  private def hasCoeffs(y2: Array[Int], y: Array[Array[Int]],
      u: Array[Array[Int]], v: Array[Array[Int]]): Boolean =
    y2.exists(_ != 0) || y.exists(_.exists(_ != 0)) ||
      u.exists(_.exists(_ != 0)) || v.exists(_.exists(_ != 0))

  /** §15.3 NORMAL loop filter over one plane (filter_type 0) —
    * the wide-tap in-loop smoother real encoders default to. Per edge
    * (signed domain): the mask requires every neighbor step ≤ the
    * interior limit and 2|p0−q0| + |p1−q1|/2 ≤ the edge limit; the
    * high-edge-variance flag (|p1−p0| > thresh or |q1−q0| > thresh,
    * thresholds from the recalled level/frame-type ladder) selects the
    * narrow 2-tap adjustment. MB edges run the wide filter —
    * a = clamp(clamp(p1−q1) + 3(q0−p0)), then (27a+63)>>7 on p0/q0,
    * (18a+63)>>7 on p1/q1, (9a+63)>>7 on p2/q2 when not hev, or the
    * simple-style F1/F2 (with the p1−q1 term) when hev; subblock
    * edges run F1/F2 (p1−q1 term only under hev) plus the rounded
    * (F1+1)>>1 outer adjustment when not hev. Luma filters MB edges +
    * interior edges at 4/8/12; chroma (half-size MBs) at its MB edges
    * + the single interior edge at 4. Levels are PER MACROBLOCK
    * (§9.4's reference/mode deltas pre-applied by the caller), limits
    * take the §15.2 sharpness rescale, a level-0 MB filters nothing,
    * and `filterInterior(mb) = false` (coefficientless whole-MV MB)
    * skips that MB's interior edges. Edge order per MB in raster:
    * left, interior vertical, top, interior horizontal. */
  private[graft] def normalLoopFilter(pl: Array[Int], w: Int, h: Int,
      level: Int, keyframe: Boolean, mbSize: Int): Unit =
    normalLoopFilter(pl, w, h,
      Array.fill((w / mbSize) * (h / mbSize))(level), sharpness = 0,
      keyframe, mbSize,
      Array.fill((w / mbSize) * (h / mbSize))(true))

  private[graft] def normalLoopFilter(pl: Array[Int], w: Int, h: Int,
      levels: Array[Int], sharpness: Int, keyframe: Boolean, mbSize: Int,
      filterInterior: Array[Boolean]): Unit = {
    var level = 0 // per-MB, set in the walk below
    var interior = 0
    var mbLim = 0
    var subLim = 0
    var thresh = 0
    def setLevel(l: Int): Unit = {
      level = l
      interior = interiorLimit(l, sharpness)
      mbLim = (l + 2) * 2 + interior
      subLim = l * 2 + interior
      thresh =
        if (keyframe) { if (l >= 40) 2 else if (l >= 15) 1 else 0 }
        else if (l >= 40) 3
        else if (l >= 20) 2
        else if (l >= 15) 1
        else 0
    }
    def c127(v: Int): Int = math.max(-128, math.min(127, v))
    def mask(i0: Int, st: Int, lim: Int): Boolean = {
      val p3 = pl(i0 - 4 * st); val p2 = pl(i0 - 3 * st)
      val p1 = pl(i0 - 2 * st); val p0 = pl(i0 - st)
      val q0 = pl(i0); val q1 = pl(i0 + st)
      val q2 = pl(i0 + 2 * st); val q3 = pl(i0 + 3 * st)
      math.abs(p3 - p2) <= interior && math.abs(p2 - p1) <= interior &&
        math.abs(p1 - p0) <= interior && math.abs(q1 - q0) <= interior &&
        math.abs(q2 - q1) <= interior && math.abs(q3 - q2) <= interior &&
        math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= lim
    }
    def hev(i0: Int, st: Int): Boolean =
      math.abs(pl(i0 - 2 * st) - pl(i0 - st)) > thresh ||
        math.abs(pl(i0 + st) - pl(i0)) > thresh
    def put(i: Int, sv: Int): Unit = pl(i) = c127(sv) + 128
    def subFilt(i0: Int, st: Int): Unit = if (mask(i0, st, subLim)) {
      val hv = hev(i0, st)
      val p1 = pl(i0 - 2 * st) - 128; val p0 = pl(i0 - st) - 128
      val q0 = pl(i0) - 128; val q1 = pl(i0 + st) - 128
      val f = c127((if (hv) c127(p1 - q1) else 0) + 3 * (q0 - p0))
      val f1 = c127(f + 4) >> 3
      val f2 = c127(f + 3) >> 3
      put(i0, q0 - f1); put(i0 - st, p0 + f2)
      if (!hv) {
        val f3 = (f1 + 1) >> 1
        put(i0 + st, q1 - f3); put(i0 - 2 * st, p1 + f3)
      }
    }
    def mbFilt(i0: Int, st: Int): Unit = if (mask(i0, st, mbLim)) {
      val hv = hev(i0, st)
      val p2 = pl(i0 - 3 * st) - 128; val p1 = pl(i0 - 2 * st) - 128
      val p0 = pl(i0 - st) - 128; val q0 = pl(i0) - 128
      val q1 = pl(i0 + st) - 128; val q2 = pl(i0 + 2 * st) - 128
      val f = c127(c127(p1 - q1) + 3 * (q0 - p0))
      if (hv) {
        val f1 = c127(f + 4) >> 3
        val f2 = c127(f + 3) >> 3
        put(i0, q0 - f1); put(i0 - st, p0 + f2)
      } else {
        val u27 = c127((27 * f + 63) >> 7)
        val u18 = c127((18 * f + 63) >> 7)
        val u9 = c127((9 * f + 63) >> 7)
        put(i0, q0 - u27); put(i0 - st, p0 + u27)
        put(i0 + st, q1 - u18); put(i0 - 2 * st, p1 + u18)
        put(i0 + 2 * st, q2 - u9); put(i0 - 3 * st, p2 + u9)
      }
    }
    val mbCols = w / mbSize; val mbRows = h / mbSize
    require(levels.length == mbCols * mbRows &&
      filterInterior.length == mbCols * mbRows,
      "vp8: per-MB filter arrays must match the MB grid")
    var mr = 0
    while (mr < mbRows) {
      var mc = 0
      while (mc < mbCols) {
        setLevel(levels(mr * mbCols + mc))
        if (level > 0) {
          val doInterior = filterInterior(mr * mbCols + mc)
          val x0 = mc * mbSize; val y0 = mr * mbSize
          if (mc > 0) {
            var r = 0
            while (r < mbSize) { mbFilt((y0 + r) * w + x0, 1); r += 1 }
          }
          var e = 4
          while (doInterior && e < mbSize) {
            var r = 0
            while (r < mbSize) { subFilt((y0 + r) * w + x0 + e, 1); r += 1 }
            e += 4
          }
          if (mr > 0) {
            var cx = 0
            while (cx < mbSize) { mbFilt(y0 * w + x0 + cx, w); cx += 1 }
          }
          e = 4
          while (doInterior && e < mbSize) {
            var cx = 0
            while (cx < mbSize) {
              subFilt((y0 + e) * w + x0 + cx, w); cx += 1
            }
            e += 4
          }
        }
        mc += 1
      }
      mr += 1
    }
  }

  /** §15 SIMPLE loop filter over the LUMA plane (filter_type 1; the
    * normal filter's outer taps are out of scope). The signed-domain
    * common adjustment is §15.2's normative kernel — a = clamp(3·(q0 −
    * p0) + clamp(p1 − q1)), F1 = clamp(a+4)>>3 off q0, F2 =
    * clamp(a+3)>>3 onto p0, applied when 2·|p0−q0| + |p1−q1|/2 stays
    * within the edge limit. The LIMIT derivation (macroblock edges
    * (level+2)·2 + level, subblock edges level·2 + level, sharpness 0)
    * follows §15.1 as implemented and is pinned by Vp8Spec's
    * hand-derived edge fixtures. Edge order per MB in raster: left MB
    * edge, internal vertical edges, top MB edge, internal horizontal
    * edges — each reading the previous edges' output, as the spec's
    * reconstruction order requires. */
  private def simpleLoopFilter(y: Array[Int], width: Int, height: Int,
      levels: Array[Int], sharpness: Int,
      filterInterior: Array[Boolean]): Unit = {
    def c127(v: Int): Int = math.max(-128, math.min(127, v))
    def filt(i0: Int, step: Int, limit: Int): Unit = {
      val p1 = y(i0 - 2 * step) - 128; val p0 = y(i0 - step) - 128
      val q0 = y(i0) - 128; val q1 = y(i0 + step) - 128
      if (math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= limit) {
        val a = c127(3 * (q0 - p0) + c127(p1 - q1))
        val f1 = c127(a + 4) >> 3
        val f2 = c127(a + 3) >> 3
        y(i0) = math.max(0, math.min(255, (q0 - f1) + 128))
        y(i0 - step) = math.max(0, math.min(255, (p0 + f2) + 128))
      }
    }
    val mbCols = width / 16; val mbRows = height / 16
    require(levels.length == mbCols * mbRows &&
      filterInterior.length == mbCols * mbRows,
      "vp8: per-MB filter arrays must match the MB grid")
    var mr = 0
    while (mr < mbRows) {
      var mc = 0
      while (mc < mbCols) {
        val level = levels(mr * mbCols + mc)
        if (level > 0) {
          val interior = interiorLimit(level, sharpness)
          val mbLimit = (level + 2) * 2 + interior
          val subLimit = level * 2 + interior
          val doInterior = filterInterior(mr * mbCols + mc)
          val x0 = mc * 16; val y0 = mr * 16
          if (mc > 0) {
            var r = 0
            while (r < 16) {
              filt((y0 + r) * width + x0, 1, mbLimit); r += 1
            }
          }
          var e = 4
          while (doInterior && e < 16) {
            var r = 0
            while (r < 16) {
              filt((y0 + r) * width + x0 + e, 1, subLimit); r += 1
            }
            e += 4
          }
          if (mr > 0) {
            var cx = 0
            while (cx < 16) {
              filt(y0 * width + x0 + cx, width, mbLimit); cx += 1
            }
          }
          e = 4
          while (doInterior && e < 16) {
            var cx = 0
            while (cx < 16) {
              filt((y0 + e) * width + x0 + cx, width, subLimit); cx += 1
            }
            e += 4
          }
        }
        mc += 1
      }
      mr += 1
    }
  }

  // ---- inter frames [§16-§18] ------------------------------------------------

  /** mv_ref modes [§16.2]. */
  val ZeroMv = 0; val NearestMv = 1; val NearMv = 2; val NewMv = 3
  val SplitMv = 4
  /** vp8_mv_ref_tree [§16.2 shape]. */
  private val MvRefTree = Array(
    -(ZeroMv + 1), 2,
    -(NearestMv + 1), 4,
    -(NearMv + 1), 6,
    -(NewMv + 1), -(SplitMv + 1))

  /** STAND-IN mode-context table: §17.3 selects the four mv_ref tree
    * probabilities as table[cnt(i)][i] from the survey counts (the
    * published 6×4 values are appendix data; both sides share this). */
  private[graft] val ModeContextProb: Array[Array[Int]] =
    Array.tabulate(6, 4)((c, n) => 1 + ((c * 61 + n * 23 + 31) * 37) % 254)

  /** Non-keyframe intra mode trees [§11.2]: same shapes, frame-level
    * default probabilities (the published non-kf defaults). */
  private val YmodeTree = Array(
    -(DcPred + 1), 2, 4, 6,
    -(VPred + 1), -(HPred + 1), -(TmPred + 1), -(BPred + 1))
  private val InterYmodeProb = Array(112, 86, 140, 37)
  private val InterUvModeProb = Array(162, 101, 204)
  /** STAND-IN inter-frame B_PRED submode probabilities: §11.4 codes
    * non-kf submodes with one FIXED context-free 9-entry table
    * (appendix data; both sides share this object). */
  private[graft] val InterBmodeProb: Array[Int] =
    Array.tabulate(9)(n => 1 + ((n * 67 + 29) * 31) % 254)

  /** vp8_small_mvtree [§17.2]: 8 leaves (component magnitudes 0..7). */
  private val SmallMvTree = Array(
    2, 8,
    4, 6,
    -1, -2, // 0, 1
    -3, -4, // 2, 3
    10, 12,
    -5, -6, // 4, 5
    -7, -8) // 6, 7

  /** STAND-IN default MV context probabilities, one 19-entry row per
    * component (row, col): [0] long-form flag, [1] sign, [2..8] the
    * short tree, [9..18] the ten long-form bit probabilities. Values
    * follow the published defaults as recalled; the codec is
    * self-consistent regardless (both sides share this object). */
  private[graft] val MvDefaultProb: Array[Array[Int]] = Array(
    Array(162, 128, 225, 146, 172, 147, 214, 39, 156,
      128, 129, 132, 75, 145, 178, 206, 239, 254, 254),
    Array(164, 128, 204, 170, 119, 235, 140, 230, 228,
      128, 130, 130, 74, 148, 180, 203, 236, 254, 254))
  // (the 2×19 MV-update-flag probabilities live in Profile.mvUpdateProbs)

  // ---- SPLITMV [§16.2, §17.4] ------------------------------------------------

  /** The four macroblock partitionings: subblock → partition id. */
  private[graft] val MbSplitMap: Array[Array[Int]] = Array(
    Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 1, 1, 1, 1), // top/bottom
    Array(0, 0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1), // left/right
    Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3), // quarters
    Array.range(0, 16))                                      // sixteenths
  val MbSplitCount: Array[Int] = Array(2, 2, 4, 16)
  /** First subblock (raster) of each partition, per split type. */
  private val MbSplitOffset: Array[Array[Int]] = Array(
    Array(0, 8), Array(0, 2), Array(0, 2, 8, 10), Array.range(0, 16))
  /** mbsplit_tree [§16.2 shape]: leaves are split types. */
  private val MbSplitTree = Array(-(3 + 1), 2, -(2 + 1), 4,
    -(0 + 1), -(1 + 1))
  /** Split-type probabilities (published values as recalled). */
  private val MbSplitProb = Array(110, 111, 150)

  /** Sub-MV reference modes [§17.4]. */
  val SubLeft = 0; val SubAbove = 1; val SubZero = 2; val SubNew = 3
  private val SubMvRefTree = Array(
    -(SubLeft + 1), 2,
    -(SubAbove + 1), 4,
    -(SubZero + 1), -(SubNew + 1))
  /** STAND-IN sub-MV ref probabilities, one 3-entry row per
    * (left, above) agreement context [§17.4's five cases]. */
  private[graft] val SubMvRefProb: Array[Array[Int]] =
    Array.tabulate(5, 3)((c, n) => 1 + ((c * 47 + n * 29 + 13) * 83) % 254)
  private def subMvCtx(l: Mv, a: Mv): Int =
    if (l == a) { if (l.isZero) 4 else 3 }
    else if (a.isZero) 2
    else if (l.isZero) 1
    else 0

  /** Eighth-pel motion vector. LUMA MVs are always even (coded values
    * are quarter-pel and scale by 2 [§17.2] — the codec layer enforces
    * that); chroma half-MVs may land on odd eighths legitimately. */
  final case class Mv(row: Int, col: Int) {
    def isZero: Boolean = row == 0 && col == 0
  }

  /** One inter-frame macroblock. When `inter`, `mvMode` picks the
    * mv_ref leaf, `mv` is the ABSOLUTE effective vector for NEWMV
    * (ignored for ZERO/NEAREST/NEAR — those resolve from the §17.3
    * survey), and `refGolden`/`refAltref` select the GOLDEN/ALTREF
    * reference buffers instead of LAST (§16.3's long-term anchors;
    * per-MB coding is bool(prob_last) then bool(prob_gf)); when
    * intra, `yMode`/`uvMode` are the 16×16 modes (B_PRED inside inter
    * frames is out of scope). Coefficient arrays as in [[MbCoding]];
    * every mode here carries a Y2 block. */
  final case class InterMb(inter: Boolean, mvMode: Int, mv: Mv,
      yMode: Int, uvMode: Int,
      y2: Array[Int], y: Array[Array[Int]],
      u: Array[Array[Int]], v: Array[Array[Int]],
      refGolden: Boolean = false, skip: Boolean = false,
      refAltref: Boolean = false,
      splitType: Int = -1, subModes: Array[Int] = Array.empty,
      subNewMvs: Array[Mv] = Array.empty, segment: Int = 0,
      bModes: Array[Int] = Array.empty) {
    require(segment >= 0 && segment <= 3, s"vp8: segment $segment")
    require(inter || (!refGolden && !refAltref),
      "vp8: golden/alt-ref reference on an intra MB")
    require(!(refGolden && refAltref),
      "vp8: a macroblock references exactly one buffer")
    if (inter && mvMode == SplitMv) {
      require(splitType >= 0 && splitType <= 3,
        s"vp8: SPLITMV needs a split type, got $splitType")
      require(subModes.length == MbSplitCount(splitType),
        s"vp8: ${subModes.length} sub-modes for split type $splitType")
      require(subModes.forall(m => m >= SubLeft && m <= SubNew),
        "vp8: sub-MV mode out of range")
      require(subNewMvs.length == MbSplitCount(splitType),
        "vp8: one (possibly unused) sub-MV slot per partition")
      require(subNewMvs.forall(m => (m.row & 1) == 0 && (m.col & 1) == 0),
        "vp8: sub-MVs sit on the quarter-pel grid")
      require(y2.forall(_ == 0),
        "vp8: SPLITMV macroblocks have no Y2 block")
    } else require(splitType == -1 && subModes.isEmpty &&
      subNewMvs.isEmpty, "vp8: split fields without SPLITMV")
    if (skip) require((y2.iterator ++ y.iterator.flatten ++
      u.iterator.flatten ++ v.iterator.flatten).forall(_ == 0),
      "vp8: mb_skip_coeff on a macroblock with nonzero levels")
    require(y2.length == 16 && y.length == 16 && u.length == 4 &&
      v.length == 4, "vp8: block shape")
    if (inter) {
      require(mvMode >= ZeroMv && mvMode <= SplitMv,
        s"vp8: mv mode $mvMode")
      require((mv.row & 1) == 0 && (mv.col & 1) == 0,
        s"vp8: luma mv (${mv.row},${mv.col}) off the quarter-pel grid")
    } else {
      require(yMode >= 0 && yMode <= BPred,
        s"vp8: intra-in-inter yMode $yMode")
      require(uvMode >= 0 && uvMode <= TmPred, s"vp8: uvMode $uvMode")
    }
    if (!inter && yMode == BPred) {
      require(bModes.length == 16 &&
        bModes.forall(m => m >= 0 && m <= BHu),
        "vp8: B_PRED needs 16 valid submodes")
      require(y2.forall(_ == 0), "vp8: B_PRED macroblocks have no Y2 block")
    } else require(bModes.isEmpty, "vp8: submodes without B_PRED")
    require((y2.iterator ++ y.iterator.flatten ++ u.iterator.flatten ++
      v.iterator.flatten).forall(l => math.abs(l) <= MaxLevel),
      s"vp8: coefficient level beyond cat6's $MaxLevel")
  }

  final case class InterFrame(qindex: Int, mbs: Vector[InterMb],
      filterLevel: Int = 0, skipEnabled: Boolean = false,
      qDeltas: QDeltas = QDeltas(), tokenPartitions: Int = 1,
      segmentation: Option[Segmentation] = None,
      normalFilter: Boolean = false,
      /** §9.7 reference-buffer lifecycle: refresh flags replace the
        * named buffer with THIS frame's decode; when a refresh flag is
        * 0 the 2-bit copy field is present instead (0 none, golden:
        * 1 = LAST, 2 = ALTREF; alternate: 1 = LAST, 2 = GOLDEN),
        * copies reading the pre-update buffers in field order
        * (golden's copy first, then alternate's). refresh_last = 0
        * leaves LAST at the previous frame. */
      refreshLast: Boolean = true,
      refreshGolden: Boolean = false,
      refreshAlt: Boolean = false,
      copyToGolden: Int = 0,
      copyToAlt: Int = 0,
      /** §17.3 reference sign biases: survey candidates from
        * neighbors whose reference has the opposite bias are
        * negated (LAST is implicitly bias 0). */
      signBiasGolden: Boolean = false,
      signBiasAlt: Boolean = false,
      sharpness: Int = 0,
      lfDeltaEnabled: Boolean = false,
      lfDeltaUpdate: Option[LfDeltaUpdate] = None,
      refreshEntropy: Boolean = true,
      coeffUpdates: Vector[CoeffUpdate] = Vector.empty,
      /** §17.2 MV-probability updates: (component, index 0..18,
        * new prob — the 7-bit x?x<<1:1 form, so 1 or an even value). */
      mvUpdates: Vector[(Int, Int, Int)] = Vector.empty,
      /** §11.3 non-kf mode-probability replacement sets. */
      ymodeUpdate: Option[Vector[Int]] = None,
      uvmodeUpdate: Option[Vector[Int]] = None) {
    require(sharpness >= 0 && sharpness <= 7, s"vp8: sharpness $sharpness")
    require(copyToGolden >= 0 && copyToGolden <= 2 &&
      copyToAlt >= 0 && copyToAlt <= 2, "vp8: copy fields are 2-bit")
    require(!refreshGolden || copyToGolden == 0,
      "vp8: copy_buffer_to_golden is absent when refresh_golden = 1")
    require(!refreshAlt || copyToAlt == 0,
      "vp8: copy_buffer_to_alternate is absent when refresh_alt = 1")
    require(lfDeltaEnabled || lfDeltaUpdate.isEmpty,
      "vp8: lf-delta update without the enable flag")
    require(coeffUpdates.map(u => (u.blockType, u.band, u.ctx, u.node))
      .distinct.size == coeffUpdates.size,
      "vp8: duplicate coefficient-probability update cell")
    require(mvUpdates.forall { case (m, i, p) =>
      m >= 0 && m <= 1 && i >= 0 && i <= 18 &&
        (p == 1 || (p >= 2 && p <= 254 && p % 2 == 0)) },
      "vp8: mv update must target a 2x19 cell with prob 1 or even " +
        "(the 7-bit x?x<<1:1 coded form)")
    require(mvUpdates.map(u => (u._1, u._2)).distinct.size ==
      mvUpdates.size, "vp8: duplicate mv-probability update cell")
    require(ymodeUpdate.forall(v => v.length == 4 &&
      v.forall(p => p >= 1 && p <= 254)), "vp8: ymode update needs 4 probs")
    require(uvmodeUpdate.forall(v => v.length == 3 &&
      v.forall(p => p >= 1 && p <= 254)), "vp8: uvmode update needs 3 probs")
    require(Seq(1, 2, 4, 8).contains(tokenPartitions),
      s"vp8: $tokenPartitions token partitions (1/2/4/8)")
    require(segmentation.isDefined || mbs.forall(_.segment == 0),
      "vp8: segment ids need segmentation enabled in the header")
    require(skipEnabled || mbs.forall(!_.skip),
      "vp8: skipped MBs need mb_no_coeff_skip enabled in the header")
    require(qindex >= 0 && qindex < 128, s"vp8: qindex $qindex")
    require(filterLevel >= 0 && filterLevel < 64,
      s"vp8: loop filter level $filterLevel")
  }

  final case class DecodedInter(frame: InterFrame, effMvs: Vector[Mv],
      y: Array[Int], u: Array[Int], v: Array[Int])

  // ---- MV component codec [§17.2] --------------------------------------------

  private def readMvComponent(d: BoolDecoder, p: Array[Int]): Int = {
    var x = 0
    if (d.bool(p(0)) == 1) { // long form: ten bits, 3 low then 9..4 high
      var i = 0
      while (i < 3) { x += d.bool(p(9 + i)) << i; i += 1 }
      i = 9
      while (i > 3) { x += d.bool(p(9 + i)) << i; i -= 1 }
      // bit 3 is implied 1 when bits 4..9 are all zero (the value
      // would otherwise be short-form codable)
      if ((x & 0xfff0) != 0) { if (d.bool(p(12)) == 1) x += 8 }
      else x += 8
    } else x = d.tree(SmallMvTree, java.util.Arrays.copyOfRange(p, 2, 9))
    if (x != 0 && d.bool(p(1)) == 1) -x else x
  }

  private def writeMvComponent(e: BoolEncoder, v: Int, p: Array[Int]): Unit = {
    val x = math.abs(v)
    require(x < 1024, s"vp8: mv component $v outside the ±1023 long form")
    if (x < 8) {
      e.bool(0, p(0))
      e.tree(SmallMvTree, java.util.Arrays.copyOfRange(p, 2, 9), x)
      if (x != 0) e.bool(if (v < 0) 1 else 0, p(1))
    } else {
      e.bool(1, p(0))
      var i = 0
      while (i < 3) { e.bool((x >> i) & 1, p(9 + i)); i += 1 }
      i = 9
      while (i > 3) { e.bool((x >> i) & 1, p(9 + i)); i -= 1 }
      if ((x & 0xfff0) != 0) e.bool((x >> 3) & 1, p(12))
      else require(((x >> 3) & 1) == 1,
        "vp8: long-form mv in 8..15 must carry the implied bit 3")
      e.bool(if (v < 0) 1 else 0, p(1))
    }
  }

  /** Read an MV residual: row then col, coded quarter-pel, ×2 to
    * eighth-pel [§17.2]. */
  private[graft] def readMv(d: BoolDecoder,
      mvProbs: Array[Array[Int]] = MvDefaultProb): Mv =
    Mv(readMvComponent(d, mvProbs(0)) * 2,
      readMvComponent(d, mvProbs(1)) * 2)

  private[graft] def writeMv(e: BoolEncoder, m: Mv,
      mvProbs: Array[Array[Int]] = MvDefaultProb): Unit = {
    require((m.row & 1) == 0 && (m.col & 1) == 0,
      s"vp8: luma mv (${m.row},${m.col}) must sit on the quarter-pel grid")
    writeMvComponent(e, m.row / 2, mvProbs(0))
    writeMvComponent(e, m.col / 2, mvProbs(1))
  }

  // ---- near-MV survey [§17.3] ------------------------------------------------

  /** Per-frame mode-info grid both walks maintain MB-by-MB: whether
    * each already-coded MB was inter, and its effective MV. */
  private final class MvGrid(val mbCols: Int, val mbRows: Int) {
    val inter = new Array[Boolean](mbCols * mbRows)
    val row = new Array[Int](mbCols * mbRows)
    val col = new Array[Int](mbCols * mbRows)
    /** The sign bias of each coded MB's reference frame [§17.3]. */
    val bias = new Array[Boolean](mbCols * mbRows)
    /** Per-subblock MVs, non-null only for SPLITMV MBs. */
    val sub = new Array[Array[Mv]](mbCols * mbRows)
    def subMv(idx: Int, b: Int): Mv =
      if (sub(idx) != null) sub(idx)(b)
      else if (inter(idx)) Mv(row(idx), col(idx))
      else Mv(0, 0)
  }

  /** Decoded per-MB mode info for the token/reconstruction walk. */
  private final case class MbMode(inter: Boolean, mvMode: Int, eff: Mv,
      ym: Int, uvm: Int, golden: Boolean, sk: Boolean, altref: Boolean,
      splitType: Int, subMvs: Array[Mv], subModes: Array[Int],
      segment: Int, bModes: Array[Int] = Array.empty)

  /** §17.4 neighbor subblock MVs: within the MB being built when the
    * neighbor subblock is internal, from the already-coded grid at MB
    * edges, zero outside the frame (the spec's zeroed border ring). */
  private def leftSubMv(g: MvGrid, cur: Array[Mv], mr: Int, mc: Int,
      b: Int): Mv =
    if (b % 4 != 0) cur(b - 1)
    else if (mc == 0) Mv(0, 0)
    else g.subMv(mr * g.mbCols + mc - 1, b + 3)
  private def aboveSubMv(g: MvGrid, cur: Array[Mv], mr: Int, mc: Int,
      b: Int): Mv =
    if (b >= 4) cur(b - 4)
    else if (mr == 0) Mv(0, 0)
    else g.subMv((mr - 1) * g.mbCols + mc, b + 12)

  /** Clamp an MV so the prediction block stays within the frame plus
    * the 16-pel margin [§17.3's clamp; the spec's extended reference
    * border]. Bounds are multiples of 8, so evenness is preserved. */
  private def clampMv(m: Mv, mr: Int, mc: Int, mbRows: Int,
      mbCols: Int): Mv = {
    val toLeft = -128 * mc - 128
    val toRight = 128 * (mbCols - 1 - mc) + 128
    val toTop = -128 * mr - 128
    val toBottom = 128 * (mbRows - 1 - mr) + 128
    Mv(math.max(toTop, math.min(toBottom, m.row)),
      math.max(toLeft, math.min(toRight, m.col)))
  }

  /** The §17.3 survey: returns (best, nearest, near, treeProbs).
    * Candidates from the above (weight 2), left (2) and above-left (1)
    * already-coded MBs of the CURRENT frame; intra neighbors count
    * nothing, zero-MV inter neighbors count toward slot 0, nonzero MVs
    * enter the candidate list merging only with the LATEST candidate;
    * then the near/nearest count swap, best-MV promotion, clamping,
    * and the count-indexed tree probabilities. */
  private def findNearMvs(g: MvGrid, mr: Int, mc: Int,
      modeContexts: Array[Array[Int]], curBias: Boolean)
      : (Mv, Mv, Mv, Array[Int]) = {
    val mvs = Array.fill(4)(Mv(0, 0))
    val cnt = new Array[Int](4)
    var slot = 0
    def consider(r: Int, c: Int, w: Int): Unit = {
      if (r >= 0 && c >= 0) {
        val i = r * g.mbCols + c
        if (g.inter(i)) {
          if (g.row(i) != 0 || g.col(i) != 0) {
            // §17.3: a candidate from a neighbor whose reference has
            // the OPPOSITE sign bias is negated before the survey
            val m =
              if (g.bias(i) != curBias) Mv(-g.row(i), -g.col(i))
              else Mv(g.row(i), g.col(i))
            if (slot == 0 || mvs(slot) != m) { slot += 1; mvs(slot) = m }
            cnt(slot) += w
          } else cnt(0) += w
        }
      }
    }
    consider(mr - 1, mc, 2)
    consider(mr, mc - 1, 2)
    consider(mr - 1, mc - 1, 1)
    // §17.3: cnt[CNT_SPLITMV] = 2·(above is SPLITMV) + 2·(left is
    // SPLITMV) + (above-left is SPLITMV) — it selects the SPLITMV leaf
    // probability of the mv_ref tree
    def isSplit(r: Int, c: Int): Int =
      if (r >= 0 && c >= 0 && g.sub(r * g.mbCols + c) != null) 1 else 0
    cnt(3) = 2 * isSplit(mr - 1, mc) + 2 * isSplit(mr, mc - 1) +
      isSplit(mr - 1, mc - 1)
    if (cnt(2) > cnt(1)) {
      val tm = mvs(1); mvs(1) = mvs(2); mvs(2) = tm
      val tc = cnt(1); cnt(1) = cnt(2); cnt(2) = tc
    }
    if (cnt(1) >= cnt(0)) mvs(0) = mvs(1)
    val best = clampMv(mvs(0), mr, mc, g.mbRows, g.mbCols)
    val nearest = clampMv(mvs(1), mr, mc, g.mbRows, g.mbCols)
    val near = clampMv(mvs(2), mr, mc, g.mbRows, g.mbCols)
    val probs = Array.tabulate(4)(i => modeContexts(math.min(5, cnt(i)))(i))
    (best, nearest, near, probs)
  }

  // ---- motion compensation [§18] ---------------------------------------------

  /** The published 8-phase six-tap subpel filter bank [§18.3]; every
    * row sums to 128. Luma uses the even phases (MVs are quarter-pel),
    * chroma all eight. */
  private[graft] val SubPelFilters: Array[Array[Int]] = Array(
    Array(0, 0, 128, 0, 0, 0),
    Array(0, -6, 123, 12, -1, 0),
    Array(2, -11, 108, 36, -8, 1),
    Array(0, -9, 93, 50, -6, 0),
    Array(3, -16, 77, 77, -16, 3),
    Array(0, -6, 50, 93, -9, 0),
    Array(1, -8, 36, 108, -11, 2),
    Array(0, -1, 12, 123, -6, 0))

  /** Predict a bw×bh block from `ref` at (baseX,baseY)+mv. Sampling is
    * edge-replicated (the in-code equivalent of the spec's extended
    * reference borders), full-pel part by arithmetic >> 3, phase from
    * the low 3 bits; subpel runs the horizontal pass first over bh+5
    * rows, then the vertical pass, each with +64 >> 7 rounding and
    * 0..255 clamping [§18.3]. */
  private[graft] def mcPredict(ref: Array[Int], w: Int, h: Int,
      baseX: Int, baseY: Int, mv: Mv, bw: Int, bh: Int,
      out: Array[Int]): Unit = {
    val x0 = baseX + (mv.col >> 3)
    val y0 = baseY + (mv.row >> 3)
    val fx = mv.col & 7
    val fy = mv.row & 7
    def px(x: Int, y: Int): Int =
      ref(math.max(0, math.min(h - 1, y)) * w + math.max(0, math.min(w - 1, x)))
    def tap(f: Array[Int], s: Int => Int): Int = {
      var acc = 64
      var i = 0
      while (i < 6) { acc += f(i) * s(i - 2); i += 1 }
      math.max(0, math.min(255, acc >> 7))
    }
    if (fx == 0 && fy == 0) {
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) { out(y * bw + x) = px(x0 + x, y0 + y); x += 1 }
        y += 1
      }
    } else if (fy == 0) {
      val f = SubPelFilters(fx)
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          val (xx, yy) = (x0 + x, y0 + y)
          out(y * bw + x) = tap(f, i => px(xx + i, yy))
          x += 1
        }
        y += 1
      }
    } else if (fx == 0) {
      val f = SubPelFilters(fy)
      var y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          val (xx, yy) = (x0 + x, y0 + y)
          out(y * bw + x) = tap(f, i => px(xx, yy + i))
          x += 1
        }
        y += 1
      }
    } else {
      val fh = SubPelFilters(fx)
      val fv = SubPelFilters(fy)
      val mid = new Array[Int](bw * (bh + 5))
      var y = 0
      while (y < bh + 5) {
        var x = 0
        while (x < bw) {
          val (xx, yy) = (x0 + x, y0 + y - 2)
          mid(y * bw + x) = tap(fh, i => px(xx + i, yy))
          x += 1
        }
        y += 1
      }
      y = 0
      while (y < bh) {
        var x = 0
        while (x < bw) {
          val c = x
          val r = y + 2
          out(y * bw + x) = tap(fv, i => mid((r + i) * bw + c))
          x += 1
        }
        y += 1
      }
    }
  }

  /** Chroma MV: half the luma value (even by construction, so exact)
    * applied on the half-resolution plane [§18.2]. */
  private def chromaMv(m: Mv): Mv = Mv(m.row / 2, m.col / 2)

  // ---- inter frame encode/decode ---------------------------------------------

  private val ProbIntra = 63  // coded as 8-bit literals in the header,
  private val ProbLast = 250  // so any values round-trip; these make
  private val ProbGf = 128    // inter-with-last the cheap path
  private val ProbSkipFalse = 180 // prob_skip_false when skip is enabled

  /** Encode an inter (P) frame against the implicit LAST reference:
    * 3-byte tag (no start code), bool-coded first partition
    * (interframe header [§9.5-§9.11] + per-MB modes/MVs), one token
    * partition. `width`/`height` must match the stream's keyframe. */
  def encodeInter(dispWidth: Int, dispHeight: Int, f: InterFrame,
      profile: Profile = Profile.StandIn, ctx: Ctx = null): Array[Byte] = {
    require(dispWidth > 0 && dispHeight > 0,
      s"vp8: $dispWidth x $dispHeight")
    val cx = if (ctx != null) ctx else new Ctx(profile)
    val prof = cx.profile
    val width = pad16(dispWidth)
    val height = pad16(dispHeight)
    val mbCols = width / 16
    val mbRows = height / 16
    require(f.mbs.length == mbCols * mbRows,
      s"vp8: ${f.mbs.length} MBs for a ${mbCols}x$mbRows grid")
    val h = new BoolEncoder
    writeSegmentation(h, f.segmentation, cx)
    h.literal(if (f.filterLevel > 0 && !f.normalFilter) 1 else 0, 1)
    h.literal(f.filterLevel, 6)
    h.literal(f.sharpness, 3) // sharpness_level [§9.4/§15.2]
    writeLfDeltas(h, f.lfDeltaEnabled, f.lfDeltaUpdate, cx)
    h.literal(Integer.numberOfTrailingZeros(f.tokenPartitions), 2)
    h.literal(f.qindex, 7)
    writeQDeltas(h, f.qDeltas) // the five per-plane deltas [§9.6]
    // §9.7 buffer lifecycle: copy fields only when not refreshing
    h.literal(if (f.refreshGolden) 1 else 0, 1)
    h.literal(if (f.refreshAlt) 1 else 0, 1)
    if (!f.refreshGolden) h.literal(f.copyToGolden, 2)
    if (!f.refreshAlt) h.literal(f.copyToAlt, 2)
    h.literal(if (f.signBiasGolden) 1 else 0, 1)
    h.literal(if (f.signBiasAlt) 1 else 0, 1)
    h.literal(if (f.refreshEntropy) 1 else 0, 1) // refresh_entropy_probs
    h.literal(if (f.refreshLast) 1 else 0, 1) // refresh_last
    val savedEntropy =
      if (f.refreshEntropy) null else cx.entropy.snapshot
    writeCoeffUpdates(h, f.coeffUpdates, prof, cx)
    h.literal(if (f.skipEnabled) 1 else 0, 1) // mb_no_coeff_skip [§9.11]
    if (f.skipEnabled) h.literal(ProbSkipFalse, 8)
    h.literal(ProbIntra, 8)
    h.literal(ProbLast, 8)
    h.literal(ProbGf, 8)
    // §11.3 non-kf mode-probability updates: one flag, then the full
    // replacement set
    f.ymodeUpdate match {
      case Some(ps) =>
        h.literal(1, 1)
        ps.foreach { p => h.literal(p, 8); () }
        var i = 0
        while (i < 4) { cx.entropy.ymode(i) = ps(i); i += 1 }
      case None => h.literal(0, 1)
    }
    f.uvmodeUpdate match {
      case Some(ps) =>
        h.literal(1, 1)
        ps.foreach { p => h.literal(p, 8); () }
        var i = 0
        while (i < 3) { cx.entropy.uvmode(i) = ps(i); i += 1 }
      case None => h.literal(0, 1)
    }
    // §17.2 MV-probability updates: per-cell flag at the profile's
    // update probability, 7-bit value expanding x ? x<<1 : 1
    val mvUpd = f.mvUpdates.map(u => ((u._1, u._2), u._3)).toMap
    var t = 0
    while (t < 2 * 19) {
      val (m, i) = (t / 19, t % 19)
      mvUpd.get((m, i)) match {
        case Some(p) =>
          h.bool(1, prof.mvUpdateProbs(m)(i))
          h.literal(p >> 1, 7)
          cx.entropy.mv(m)(i) = p
        case None => h.bool(0, prof.mvUpdateProbs(m)(i))
      }
      t += 1
    }
    // per-MB modes, resolving effective MVs through the survey
    val g = new MvGrid(mbCols, mbRows)
    var mr = 0
    while (mr < mbRows) {
      var mc = 0
      while (mc < mbCols) {
        val idx = mr * mbCols + mc
        val mb = f.mbs(idx)
        f.segmentation.foreach { g =>
          if (g.updateMap) h.tree(SegmentTree, g.mapProbs, mb.segment)
          else require(cx.segMap != null &&
            cx.segMap.length == f.mbs.length &&
            cx.segMap(idx) == mb.segment,
            "vp8: update_mb_segmentation_map = 0 but the frame's " +
              "segment ids disagree with the remembered map")
        }
        if (f.skipEnabled) h.bool(if (mb.skip) 1 else 0, ProbSkipFalse)
        h.bool(if (mb.inter) 1 else 0, ProbIntra)
        if (!mb.inter) {
          h.tree(YmodeTree, cx.entropy.ymode, mb.yMode)
          if (mb.yMode == BPred) // §11.4: fixed non-kf submode probs
            mb.bModes.foreach(m => h.tree(BmodeTree, InterBmodeProb, m))
          h.tree(UvModeTree, cx.entropy.uvmode, mb.uvMode)
          g.inter(idx) = false
        } else {
          val nonLast = mb.refGolden || mb.refAltref
          h.bool(if (nonLast) 1 else 0, ProbLast)
          if (nonLast) h.bool(if (mb.refAltref) 1 else 0, ProbGf)
          val curBias =
            if (mb.refAltref) f.signBiasAlt
            else if (mb.refGolden) f.signBiasGolden
            else false
          val (best, nearest, near, probs) =
            findNearMvs(g, mr, mc, prof.modeContexts, curBias)
          h.tree(MvRefTree, probs, mb.mvMode)
          val eff = mb.mvMode match {
            case ZeroMv => Mv(0, 0)
            case NearestMv => nearest
            case NearMv => near
            case NewMv =>
              writeMv(h, Mv(mb.mv.row - best.row, mb.mv.col - best.col),
                cx.entropy.mv)
              mb.mv
            case SplitMv =>
              h.tree(MbSplitTree, MbSplitProb, mb.splitType)
              val subMvs = new Array[Mv](16)
              var j = 0
              while (j < MbSplitCount(mb.splitType)) {
                val k = MbSplitOffset(mb.splitType)(j)
                val l = leftSubMv(g, subMvs, mr, mc, k)
                val a = aboveSubMv(g, subMvs, mr, mc, k)
                val mode = mb.subModes(j)
                h.tree(SubMvRefTree, SubMvRefProb(subMvCtx(l, a)), mode)
                val pmv = mode match {
                  case SubLeft => l
                  case SubAbove => a
                  case SubZero => Mv(0, 0)
                  case SubNew =>
                    val m = mb.subNewMvs(j)
                    writeMv(h, Mv(m.row - best.row, m.col - best.col),
                      cx.entropy.mv)
                    m
                }
                var b = 0
                while (b < 16) {
                  if (MbSplitMap(mb.splitType)(b) == j) subMvs(b) = pmv
                  b += 1
                }
                j += 1
              }
              g.sub(idx) = subMvs
              subMvs(15) // the MB-level mv the survey sees [§17.3]
          }
          g.inter(idx) = true
          g.row(idx) = eff.row
          g.col(idx) = eff.col
          g.bias(idx) = curBias
        }
        mc += 1
      }
      mr += 1
    }
    val part1 = h.stop()

    // token partitions: every mode here carries Y2 (no SPLITMV/
    // B_PRED); MB row r codes into partition r mod count [§9.5]
    val es = Array.fill(f.tokenPartitions)(new BoolEncoder)
    val nz = new NzCtx(mbCols)
    mr = 0
    while (mr < mbRows) {
      val e = es(mr % f.tokenPartitions)
      nz.resetLeft()
      var mc = 0
      while (mc < mbCols) {
        val mb = f.mbs(mr * mbCols + mc)
        val isSplit = mb.inter && mb.mvMode == SplitMv
        val noY2 = isSplit || (!mb.inter && mb.yMode == BPred)
        if (mb.skip) { resetMbNz(nz, mc, resetY2 = !noY2); mc += 1 }
        else {
        if (!noY2) {
          // SPLITMV and B_PRED have no Y2 block and leave its context
          // plane untouched [§13.4]
          val y2Ctx = (if (nz.aboveY2(mc)) 1 else 0) +
            (if (nz.leftY2) 1 else 0)
          val y2Nz = encodeBlock(e, 1, 0, y2Ctx, mb.y2, cx.entropy.coeff)
          nz.aboveY2(mc) = y2Nz; nz.leftY2 = y2Nz
        }
        val (yType, yFirst) = if (noY2) (3, 0) else (0, 1)
        var by = 0
        while (by < 4) {
          var bx = 0
          while (bx < 4) {
            val ctx = (if (nz.aboveY(mc * 4 + bx)) 1 else 0) +
              (if (nz.leftY(by)) 1 else 0)
            val bNz = encodeBlock(e, yType, yFirst, ctx, mb.y(by * 4 + bx),
              cx.entropy.coeff)
            nz.aboveY(mc * 4 + bx) = bNz; nz.leftY(by) = bNz
            bx += 1
          }
          by += 1
        }
        def chroma(blocks: Array[Array[Int]], aboveP: Array[Boolean],
            leftP: Array[Boolean]): Unit = {
          var cy = 0
          while (cy < 2) {
            var ccx = 0
            while (ccx < 2) {
              val ctx = (if (aboveP(mc * 2 + ccx)) 1 else 0) +
                (if (leftP(cy)) 1 else 0)
              val bNz = encodeBlock(e, 2, 0, ctx, blocks(cy * 2 + ccx),
                cx.entropy.coeff)
              aboveP(mc * 2 + ccx) = bNz; leftP(cy) = bNz
              ccx += 1
            }
            cy += 1
          }
        }
        chroma(mb.u, nz.aboveU, nz.leftU)
        chroma(mb.v, nz.aboveV, nz.leftV)
        mc += 1
        }
      }
      mr += 1
    }
    if (f.segmentation.isDefined)
      cx.segMap = f.mbs.map(_.segment).toArray
    if (savedEntropy != null) cx.entropy.restoreFrom(savedEntropy)
    graft.sources.Ivf.vp8Frame(keyframe = false, version = 0,
      showFrame = true, dispWidth, dispHeight, part1) ++
      assemblePartitions(es.map(_.stop()).toSeq)
  }

  /** Decode an inter (P) frame against the LAST reference planes.
    * Every subset boundary fails loudly by name. When `ctx` is
    * supplied, its profile wins and its entropy/lf-delta state evolves
    * per §9.7/§9.4. */
  def decodeInter(payload: Array[Byte], dispWidth: Int, dispHeight: Int,
      refY: Array[Int], refU: Array[Int], refV: Array[Int],
      goldY: Array[Int] = null, goldU: Array[Int] = null,
      goldV: Array[Int] = null,
      profile: Profile = Profile.StandIn,
      altY: Array[Int] = null, altU: Array[Int] = null,
      altV: Array[Int] = null, ctx: Ctx = null): DecodedInter = {
    val cx = if (ctx != null) ctx else new Ctx(profile)
    val prof = cx.profile
    val tag = graft.sources.Ivf.parseVp8Tag(payload)
    require(!tag.keyframe, "vp8: keyframe passed to decodeInter")
    require(dispWidth > 0 && dispHeight > 0,
      s"vp8: $dispWidth x $dispHeight")
    // §9.1: reference planes and reconstruction are macroblock-padded
    val width = pad16(dispWidth)
    val height = pad16(dispHeight)
    require(refY.length == width * height &&
      refU.length == (width / 2) * (height / 2) &&
      refV.length == (width / 2) * (height / 2),
      "vp8: reference plane sizes disagree with the padded dimensions")
    val mbCols = width / 16
    val mbRows = height / 16
    val p1End = 3 + tag.firstPartSize
    require(p1End <= payload.length,
      s"vp8: first partition (${tag.firstPartSize} B) overruns the payload")

    val h = new BoolDecoder(payload, 3, p1End)
    val segmentation = readSegmentation(h, cx)
    val filterType = h.literal(1)
    val filterLevel = h.literal(6)
    val sharpness = h.literal(3)
    val (lfDeltaEnabled, lfDeltaUpdate) = readLfDeltas(h, cx)
    val tokenPartitions = 1 << h.literal(2)
    val qindex = h.literal(7)
    val qDeltas = readQDeltas(h)
    // §9.7 buffer lifecycle: copy fields present only when the
    // matching refresh flag is 0
    val refreshGolden = h.literal(1) == 1
    val refreshAlt = h.literal(1) == 1
    val copyToGolden = if (refreshGolden) 0 else h.literal(2)
    val copyToAlt = if (refreshAlt) 0 else h.literal(2)
    require(copyToGolden <= 2 && copyToAlt <= 2,
      "vp8: reserved copy-buffer value 3")
    val signBiasGolden = h.literal(1) == 1
    val signBiasAlt = h.literal(1) == 1
    val refreshEntropy = h.literal(1) == 1
    val refreshLast = h.literal(1) == 1
    val savedEntropy = if (refreshEntropy) null else cx.entropy.snapshot
    val coeffUpdates = readCoeffUpdates(h, prof, cx)
    val skipEnabled = h.literal(1) == 1
    val probSkip = if (skipEnabled) h.literal(8) else 0
    val probIntra = h.literal(8)
    val probLast = h.literal(8)
    val probGf = h.literal(8)
    // §11.3 mode-probability updates: one flag, full replacement set
    val ymodeUpdate =
      if (h.literal(1) == 1) {
        val ps = Vector.fill(4)(h.literal(8))
        require(ps.forall(p => p >= 1 && p <= 254),
          "vp8: ymode update prob outside [1,254]")
        var i = 0
        while (i < 4) { cx.entropy.ymode(i) = ps(i); i += 1 }
        Some(ps)
      } else None
    val uvmodeUpdate =
      if (h.literal(1) == 1) {
        val ps = Vector.fill(3)(h.literal(8))
        require(ps.forall(p => p >= 1 && p <= 254),
          "vp8: uvmode update prob outside [1,254]")
        var i = 0
        while (i < 3) { cx.entropy.uvmode(i) = ps(i); i += 1 }
        Some(ps)
      } else None
    // §17.2 MV-probability updates: flag per cell, 7-bit x?x<<1:1
    val mvUpdates = {
      val out = Vector.newBuilder[(Int, Int, Int)]
      var t = 0
      while (t < 2 * 19) {
        val (m, i) = (t / 19, t % 19)
        if (h.bool(prof.mvUpdateProbs(m)(i)) == 1) {
          val x = h.literal(7)
          val p = if (x != 0) x << 1 else 1
          cx.entropy.mv(m)(i) = p
          out += ((m, i, p))
        }
        t += 1
      }
      out.result()
    }
    // per-MB modes with the survey
    val g = new MvGrid(mbCols, mbRows)
    val modes = Vector.newBuilder[MbMode]
    var mr = 0
    while (mr < mbRows) {
      var mc = 0
      while (mc < mbCols) {
        val idx = mr * mbCols + mc
        val segId = segmentation match {
          case Some(g) if g.updateMap => h.tree(SegmentTree, g.mapProbs)
          case Some(_) =>
            require(cx.segMap != null &&
              cx.segMap.length == mbCols * mbRows,
              "vp8: update_mb_segmentation_map = 0 without a " +
                "remembered map of this geometry")
            cx.segMap(idx)
          case None => 0
        }
        val sk = skipEnabled && h.bool(probSkip) == 1
        if (h.bool(probIntra) == 1) {
          val nonLast = h.bool(probLast) == 1
          val altref = nonLast && h.bool(probGf) == 1
          val golden = nonLast && !altref
          if (golden) require(goldY != null,
            "vp8: golden-referencing MB but no golden buffer supplied")
          if (altref) require(altY != null,
            "vp8: altref-referencing MB but no altref buffer supplied")
          val curBias =
            if (altref) signBiasAlt
            else if (golden) signBiasGolden
            else false
          val (best, nearest, near, probs) =
            findNearMvs(g, mr, mc, prof.modeContexts, curBias)
          val mvMode = h.tree(MvRefTree, probs)
          var splitType = -1
          var subMvs: Array[Mv] = null
          var subModes: Array[Int] = null
          val eff = mvMode match {
            case ZeroMv => Mv(0, 0)
            case NearestMv => nearest
            case NearMv => near
            case NewMv =>
              val d0 = readMv(h, cx.entropy.mv)
              Mv(best.row + d0.row, best.col + d0.col)
            case SplitMv =>
              splitType = h.tree(MbSplitTree, MbSplitProb)
              subMvs = new Array[Mv](16)
              subModes = new Array[Int](MbSplitCount(splitType))
              var j = 0
              while (j < MbSplitCount(splitType)) {
                val k = MbSplitOffset(splitType)(j)
                val l = leftSubMv(g, subMvs, mr, mc, k)
                val a = aboveSubMv(g, subMvs, mr, mc, k)
                val mode = h.tree(SubMvRefTree,
                  SubMvRefProb(subMvCtx(l, a)))
                subModes(j) = mode
                val pmv = mode match {
                  case SubLeft => l
                  case SubAbove => a
                  case SubZero => Mv(0, 0)
                  case SubNew =>
                    val d0 = readMv(h, cx.entropy.mv)
                    Mv(best.row + d0.row, best.col + d0.col)
                }
                var b = 0
                while (b < 16) {
                  if (MbSplitMap(splitType)(b) == j) subMvs(b) = pmv
                  b += 1
                }
                j += 1
              }
              g.sub(idx) = subMvs
              subMvs(15)
          }
          g.inter(idx) = true
          g.row(idx) = eff.row
          g.col(idx) = eff.col
          g.bias(idx) = curBias
          modes += MbMode(inter = true, mvMode, eff, 0, 0, golden, sk,
            altref, splitType, subMvs, subModes, segId)
        } else {
          val ym = h.tree(YmodeTree, cx.entropy.ymode)
          val bms =
            if (ym == BPred) // §11.4: fixed non-kf submode probs
              Array.fill(16)(h.tree(BmodeTree, InterBmodeProb))
            else Array.empty[Int]
          val uvm = h.tree(UvModeTree, cx.entropy.uvmode)
          modes += MbMode(inter = false, 0, Mv(0, 0), ym, uvm,
            golden = false, sk, altref = false, -1, null, null, segId,
            bms)
        }
        mc += 1
      }
      mr += 1
    }
    val modeInfo = modes.result()

    // tokens + reconstruction
    val ds = splitPartitions(payload, p1End, tokenPartitions)
    val dqs = segmentDequants(qindex, segmentation, prof, qDeltas)
    val yP = new Array[Int](width * height)
    val uP = new Array[Int]((width / 2) * (height / 2))
    val vP = new Array[Int]((width / 2) * (height / 2))
    val nz = new NzCtx(mbCols)
    val pred16 = new Array[Int](256)
    val pred8 = new Array[Int](64)
    val mbsOut = Vector.newBuilder[InterMb]
    val cs = width / 2
    mr = 0
    while (mr < mbRows) {
      val d = ds(mr % tokenPartitions)
      nz.resetLeft()
      var mc = 0
      while (mc < mbCols) {
        val mi = modeInfo(mr * mbCols + mc)
        val isInter = mi.inter; val mvMode = mi.mvMode; val eff = mi.eff
        val ym = mi.ym; val uvm = mi.uvm; val golden = mi.golden
        val sk = mi.sk; val altref = mi.altref
        val dq = dqs(mi.segment)
        val isSplit = isInter && mvMode == SplitMv
        val isB = !isInter && ym == BPred
        val noY2 = isSplit || isB
        val srcY = if (altref) altY else if (golden) goldY else refY
        val srcU = if (altref) altU else if (golden) goldU else refU
        val srcV = if (altref) altV else if (golden) goldV else refV
        // SPLITMV and B_PRED have no Y2 block and leave the Y2 context
        // plane untouched [§13.4]
        val y2L =
          if (sk || noY2) new Array[Int](16)
          else {
            val y2Ctx = (if (nz.aboveY2(mc)) 1 else 0) +
              (if (nz.leftY2) 1 else 0)
            val (lv, y2Nz) = decodeBlock(d, 1, 0, y2Ctx, cx.entropy.coeff)
            nz.aboveY2(mc) = y2Nz; nz.leftY2 = y2Nz
            lv
          }
        val (yType, yFirst) = if (noY2) (3, 0) else (0, 1)
        val yL = Array.fill(16)(new Array[Int](16))
        if (sk) resetMbNz(nz, mc, resetY2 = !noY2)
        else {
          var by0 = 0
          while (by0 < 4) {
            var bx = 0
            while (bx < 4) {
              val ctx = (if (nz.aboveY(mc * 4 + bx)) 1 else 0) +
                (if (nz.leftY(by0)) 1 else 0)
              val (lv, bNz) = decodeBlock(d, yType, yFirst, ctx,
                cx.entropy.coeff)
              yL(by0 * 4 + bx) = lv
              nz.aboveY(mc * 4 + bx) = bNz; nz.leftY(by0) = bNz
              bx += 1
            }
            by0 += 1
          }
        }
        def chroma(aboveP: Array[Boolean], leftP: Array[Boolean])
            : Array[Array[Int]] = {
          val out = new Array[Array[Int]](4)
          var cy = 0
          while (cy < 2) {
            var ccx = 0
            while (ccx < 2) {
              val ctx = (if (aboveP(mc * 2 + ccx)) 1 else 0) +
                (if (leftP(cy)) 1 else 0)
              val (lv, bNz) = decodeBlock(d, 2, 0, ctx, cx.entropy.coeff)
              out(cy * 2 + ccx) = lv
              aboveP(mc * 2 + ccx) = bNz; leftP(cy) = bNz
              ccx += 1
            }
            cy += 1
          }
          out
        }
        val uL = if (sk) Array.fill(4)(new Array[Int](16))
          else chroma(nz.aboveU, nz.leftU)
        val vL = if (sk) Array.fill(4)(new Array[Int](16))
          else chroma(nz.aboveV, nz.leftV)
        mbsOut += InterMb(isInter, mvMode, if (isInter) eff else Mv(0, 0),
          ym, uvm, y2L, yL, uL, vL, refGolden = golden, skip = sk,
          refAltref = altref, segment = mi.segment,
          splitType = if (isSplit) mi.splitType else -1,
          subModes = if (isSplit) mi.subModes else Array.empty,
          subNewMvs = if (isSplit)
            mi.subModes.indices.map(j =>
              mi.subMvs(MbSplitOffset(mi.splitType)(j))).toArray
          else Array.empty,
          bModes = mi.bModes)

        // prediction: motion-compensated from the selected reference
        // (whole-MB, or per-subblock for SPLITMV), or intra from the
        // current frame's raster-order recon (B_PRED interleaving
        // per-subblock prediction with its own-DC residual, as in
        // keyframes)
        var by = 0
        if (isB) {
          val p4 = new Array[Int](16)
          by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val px = mc * 16 + bx * 4
              val py = mr * 16 + by * 4
              predict4(yP, width, width, px, py, mi.bModes(by * 4 + bx),
                p4)
              val res = idct4x4(dequantToRaster(yL(by * 4 + bx),
                dq.ydc, dq.yac, None))
              var yy = 0
              while (yy < 4) {
                var xx = 0
                while (xx < 4) {
                  yP((py + yy) * width + px + xx) = math.max(0,
                    math.min(255, p4(yy * 4 + xx) + res(yy * 4 + xx)))
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
        } else if (isSplit) {
          val blk = new Array[Int](16)
          var b = 0
          while (b < 16) {
            mcPredict(srcY, width, height, mc * 16 + (b % 4) * 4,
              mr * 16 + (b / 4) * 4, mi.subMvs(b), 4, 4, blk)
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                yP((mr * 16 + (b / 4) * 4 + yy) * width +
                  mc * 16 + (b % 4) * 4 + xx) = blk(yy * 4 + xx)
                xx += 1
              }
              yy += 1
            }
            b += 1
          }
        } else {
          if (isInter)
            mcPredict(srcY, width, height, mc * 16, mr * 16, eff, 16, 16,
              pred16)
          else predict(yP, width, mc * 16, mr * 16, 16, ym, pred16)
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              yP((mr * 16 + yy) * width + mc * 16 + xx) = pred16(yy * 16 + xx)
              xx += 1
            }
            yy += 1
          }
        }
        if (isB) {
          // residuals were added inside the interleaved walk above
        } else if (isSplit) {
          // own-DC residuals (type 3), no Y2
          by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val raster = dequantToRaster(yL(by * 4 + bx), dq.ydc, dq.yac,
                None)
              addResidual(yP, width, mc * 16 + bx * 4, mr * 16 + by * 4,
                idct4x4(raster))
              bx += 1
            }
            by += 1
          }
        } else {
          // Y2 → WHT → the 16 Y DCs, then per-subblock IDCT residuals
          val y2Coef = new Array[Int](16)
          var s = 0
          while (s < 16) {
            y2Coef(Zigzag(s)) = y2L(s) * (if (s == 0) dq.y2dc else dq.y2ac)
            s += 1
          }
          val dcs = iwalsh4x4(y2Coef)
          by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val raster = dequantToRaster(yL(by * 4 + bx), dq.ydc, dq.yac,
                Some(dcs(by * 4 + bx)))
              addResidual(yP, width, mc * 16 + bx * 4, mr * 16 + by * 4,
                idct4x4(raster))
              bx += 1
            }
            by += 1
          }
        }
        def chromaRecon(plane: Array[Int], ref: Array[Int],
            blocks: Array[Array[Int]]): Unit = {
          if (isSplit) {
            // §18.2: each 4×4 chroma block takes the rounded average
            // of its four covering luma subblock MVs
            val blk = new Array[Int](16)
            var cy = 0
            while (cy < 2) {
              var cx = 0
              while (cx < 2) {
                val b0 = (2 * cy) * 4 + 2 * cx
                val ms = Seq(mi.subMvs(b0), mi.subMvs(b0 + 1),
                  mi.subMvs(b0 + 4), mi.subMvs(b0 + 5))
                // §18.2 rounds the 4-MV average half away from zero
                def rnd8(s: Int): Int =
                  if (s >= 0) (s + 4) >> 3 else -((-s + 4) >> 3)
                val cmv = Mv(rnd8(ms.map(_.row).sum),
                  rnd8(ms.map(_.col).sum))
                mcPredict(ref, cs, height / 2, mc * 8 + cx * 4,
                  mr * 8 + cy * 4, cmv, 4, 4, blk)
                var yy2 = 0
                while (yy2 < 4) {
                  var xx = 0
                  while (xx < 4) {
                    plane((mr * 8 + cy * 4 + yy2) * cs +
                      mc * 8 + cx * 4 + xx) = blk(yy2 * 4 + xx)
                    xx += 1
                  }
                  yy2 += 1
                }
                cx += 1
              }
              cy += 1
            }
          } else {
            if (isInter) mcPredict(ref, cs, height / 2, mc * 8, mr * 8,
              chromaMv(eff), 8, 8, pred8)
            else predict(plane, cs, mc * 8, mr * 8, 8, uvm, pred8)
            var yy2 = 0
            while (yy2 < 8) {
              var xx = 0
              while (xx < 8) {
                plane((mr * 8 + yy2) * cs + mc * 8 + xx) = pred8(yy2 * 8 + xx)
                xx += 1
              }
              yy2 += 1
            }
          }
          var cy = 0
          while (cy < 2) {
            var cx = 0
            while (cx < 2) {
              val raster = dequantToRaster(blocks(cy * 2 + cx), dq.uvdc,
                dq.uvac, None)
              addResidual(plane, cs, mc * 8 + cx * 4, mr * 8 + cy * 4,
                idct4x4(raster))
              cx += 1
            }
            cy += 1
          }
        }
        chromaRecon(uP, srcU, uL)
        chromaRecon(vP, srcV, vL)
        mc += 1
      }
      mr += 1
    }
    val mbsDone = mbsOut.result()
    if (segmentation.isDefined)
      cx.segMap = mbsDone.map(_.segment).toArray
    val normal = filterLevel > 0 && filterType == 0
    if (filterLevel > 0) {
      // per-MB filter levels [§9.4]: reference delta by the MB's
      // buffer (intra 0 / LAST 1 / GOLDEN 2 / ALTREF 3), mode delta
      // for ZEROMV (1), SPLITMV (3) and other inter modes (2); intra
      // 16×16 modes take no mode delta. Interior edges skip for
      // coefficientless whole-MV MBs [§15.1/§15.2].
      val lfLevels = Array.tabulate(mbsDone.length) { i =>
        val mb = mbsDone(i)
        val ref =
          if (!mb.inter) 0
          else if (mb.refAltref) 3
          else if (mb.refGolden) 2
          else 1
        val modeSlot =
          if (!mb.inter) { if (mb.yMode == BPred) 0 else -1 }
          else if (mb.mvMode == ZeroMv) 1
          else if (mb.mvMode == SplitMv) 3
          else 2
        mbFilterLevel(segLfBase(filterLevel, segmentation, mb.segment),
          lfDeltaEnabled, cx, ref, modeSlot)
      }
      val lfInterior = Array.tabulate(mbsDone.length) { i =>
        val mb = mbsDone(i)
        (mb.inter && mb.mvMode == SplitMv) ||
          (!mb.inter && mb.yMode == BPred) ||
          hasCoeffs(mb.y2, mb.y, mb.u, mb.v)
      }
      if (normal) {
        normalLoopFilter(yP, width, height, lfLevels, sharpness,
          keyframe = false, mbSize = 16, lfInterior)
        normalLoopFilter(uP, width / 2, height / 2, lfLevels, sharpness,
          keyframe = false, mbSize = 8, lfInterior)
        normalLoopFilter(vP, width / 2, height / 2, lfLevels, sharpness,
          keyframe = false, mbSize = 8, lfInterior)
      } else simpleLoopFilter(yP, width, height, lfLevels, sharpness,
        lfInterior)
    }
    if (savedEntropy != null) cx.entropy.restoreFrom(savedEntropy)
    DecodedInter(InterFrame(qindex, mbsDone, filterLevel,
      skipEnabled, qDeltas, tokenPartitions, segmentation, normal,
      refreshLast, refreshGolden, refreshAlt, copyToGolden, copyToAlt,
      signBiasGolden, signBiasAlt,
      sharpness, lfDeltaEnabled, lfDeltaUpdate, refreshEntropy,
      coeffUpdates, mvUpdates, ymodeUpdate, uvmodeUpdate),
      modeInfo.map(m => if (m.inter) m.eff else Mv(0, 0)), yP, uP, vP)
  }

  /** One frame's planes: luma `y`, chroma `u`/`v`. */
  final case class Planes(y: Array[Int], u: Array[Int], v: Array[Int])

  /** A stream's §16.3 reference buffers between frames: the LAST,
    * GOLDEN and ALTREF planes, macroblock-padded [§9.1], at the
    * display size `width` x `height` of the keyframe that anchored
    * them. */
  final case class Refs(width: Int, height: Int,
      last: Planes, golden: Planes, altref: Planes)

  /** One decoded frame of a stream walk: DISPLAY-cropped planes
    * (luma width x height, chroma ceil-halved) — the reference
    * buffers stay padded internally [§9.1] — and the frame's full
    * decode (`Left` for a keyframe, `Right` for an inter frame): coded
    * levels, macroblock modes, effective MVs, segment ids and header
    * flags. */
  final case class StreamFrame(width: Int, height: Int,
      y: Array[Int], u: Array[Int], v: Array[Int],
      coded: Either[Decoded, DecodedInter]) {
    def keyframe: Boolean = coded.isLeft
  }

  /** THE per-frame step of a stream walk, the one place the §9.7
    * reference-buffer lifecycle lives: maps the buffers before a frame
    * (`null` before the first keyframe), its payload and the stream's
    * [[Ctx]] to the buffers after it and the decoded frame.
    *  - A keyframe anchors all three buffers at its decode [§16.3].
    *  - An inter frame predicts from them per macroblock; then the
    *    conditional copy fields read the PRE-update buffers (parallel
    *    assignment: copy_golden = 1 with copy_alt = 2 moves LAST into
    *    GOLDEN and the OLD golden into ALTREF), and the refresh flags
    *    replace their buffer with this frame's decode
    *    (refresh_last = 0 leaves LAST at the previous frame).
    * Pure up to `ctx`, which carries the entropy, lf-delta and
    * segmentation state [§9.7/§9.4/§9.3] from frame to frame:
    * [[decodeStream]] folds it over a payload sequence and
    * [[graft.streaming.Vp8Machine]] over a state store. */
  def step(refs: Refs, payload: Array[Byte], ctx: Ctx)
      : (Refs, StreamFrame) = {
    val (next, p, coded): (Refs, Planes, Either[Decoded, DecodedInter]) =
      if (graft.sources.Ivf.parseVp8Tag(payload).keyframe) {
        val dec = decode(payload, ctx = ctx)
        val p = Planes(dec.y, dec.u, dec.v)
        (Refs(dec.frame.width, dec.frame.height, p, p, p), p, Left(dec))
      } else {
        require(refs != null, "vp8: inter frame before any keyframe")
        val (l, g, a) = (refs.last, refs.golden, refs.altref)
        val dec = decodeInter(payload, refs.width, refs.height,
          l.y, l.u, l.v, g.y, g.u, g.v,
          altY = a.y, altU = a.u, altV = a.v, ctx = ctx)
        val f = dec.frame
        val p = Planes(dec.y, dec.u, dec.v)
        // a copy field is absent (0) when its refresh flag is set
        val golden =
          if (f.refreshGolden) p
          else if (f.copyToGolden == 1) l
          else if (f.copyToGolden == 2) a
          else g
        val altref =
          if (f.refreshAlt) p
          else if (f.copyToAlt == 1) l
          else if (f.copyToAlt == 2) g
          else a
        (Refs(refs.width, refs.height,
          if (f.refreshLast) p else l, golden, altref), p, Right(dec))
      }
    val (w, h) = (next.width, next.height)
    (next, StreamFrame(w, h, crop(p.y, pad16(w), w, h),
      crop(p.u, pad16(w) / 2, (w + 1) / 2, (h + 1) / 2),
      crop(p.v, pad16(w) / 2, (w + 1) / 2, (h + 1) / 2), coded))
  }

  /** Decode a frame sequence (e.g. the payloads of one IVF file or one
    * WebM track) by folding [[step]] over it: the first frame must be a
    * keyframe; `ctx` (a fresh one of `profile` when null) carries the
    * entropy state across the frames. */
  def decodeStream(payloads: Seq[Array[Byte]],
      profile: Profile = Profile.StandIn,
      ctx: Ctx = null): Vector[StreamFrame] = {
    require(payloads.nonEmpty, "vp8: empty stream")
    val cx = if (ctx != null) ctx else new Ctx(profile)
    var refs: Refs = null
    payloads.iterator.map { p =>
      val (next, frame) = step(refs, p, cx)
      refs = next
      frame
    }.toVector
  }
}
