package graft.streaming

import graft.functions.Vp8
import graft.streaming.StateMachines.{Ev, Machine, Out}

/** VP8 decode as a STATEFUL STREAMING OPERATOR — what a live ingest
  * pipeline actually needs from a codec: frames arrive one micro-batch
  * at a time, and the decoder's cross-frame state crosses batch
  * boundaries through the state store exactly like any other operator
  * state. Each event runs [[Vp8.step]], the same per-frame step
  * [[Vp8.decodeStream]] folds over a batch, so the §9.7 buffer
  * lifecycle has one definition. The state it carries (RFC 6386):
  *  - the REFERENCE PLANES — LAST, GOLDEN and ALTREF ([[Vp8.Refs]],
  *    §16.3's buffer model), flattened into [[DecState]]'s plane
  *    fields;
  *  - the PERSISTENT ENTROPY STATE (§9.7) — the coefficient/MV/mode
  *    probability tables as updated by refresh_entropy_probs = 1
  *    frames (an inter frame arriving three micro-batches after the
  *    update must decode with the updated table, or it desyncs);
  *  - the §9.4 remembered loop-filter deltas.
  * The entropy + lf-delta + segmentation state rides
  * [[Vp8.Ctx.toFlat]] (~1120 ints plus the segment map, a few KB)
  * next to the ~10 KB of planes — a RocksDB state-store entry,
  * not a broadcast. [[DecState]]'s field layout is the stored schema:
  * checkpoints written by earlier builds resume.
  *
  * The payload rides the envelope's `text` field hex-encoded (the
  * envelope is a NumberMessage/TextMessage shape, not a byte one);
  * emits carry Σluma in `value` and "Σchroma,kf" in `text`, summed
  * over the display-cropped planes (§9.1) exactly as over
  * decodeStream's frames. Purity (state, event) → (state, emits) gives
  * batch/streaming parity for free.
  */
object Vp8Machine {

  final case class DecState(w: Int, h: Int,
      lastY: Array[Int], lastU: Array[Int], lastV: Array[Int],
      goldY: Array[Int], goldU: Array[Int], goldV: Array[Int],
      altY: Array[Int], altU: Array[Int], altV: Array[Int],
      ctx: Array[Int])

  final class StreamDecoder extends Machine[DecState] {
    def init: DecState = DecState(0, 0, null, null, null, null, null,
      null, null, null, null, null)

    def step(s: DecState, e: Ev): (DecState, Seq[Out]) = {
      // rebuild the mutable decoder context and the reference buffers
      // from the stored state (fresh ones before the first keyframe)
      val cx =
        if (s.ctx == null) new Vp8.Ctx(Vp8.Profile.StandIn)
        else Vp8.Ctx.fromFlat(Vp8.Profile.StandIn, s.ctx)
      val refs =
        if (s.lastY == null) null
        else Vp8.Refs(s.w, s.h, Vp8.Planes(s.lastY, s.lastU, s.lastV),
          Vp8.Planes(s.goldY, s.goldU, s.goldV),
          Vp8.Planes(s.altY, s.altU, s.altV))
      val (r, f) =
        Vp8.step(refs, java.util.HexFormat.of().parseHex(e.text), cx)
      val ns = DecState(r.width, r.height,
        r.last.y, r.last.u, r.last.v, r.golden.y, r.golden.u, r.golden.v,
        r.altref.y, r.altref.u, r.altref.v, Vp8.Ctx.toFlat(cx))
      val luma = f.y.iterator.map(_.toLong).sum
      val chroma = f.u.iterator.map(_.toLong).sum +
        f.v.iterator.map(_.toLong).sum
      (ns, Seq(Out(e.ts, luma.toDouble,
        s"$chroma,${if (f.keyframe) 1 else 0}")))
    }
  }
}
