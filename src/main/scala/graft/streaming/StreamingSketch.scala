package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StatefulRunner.{KEv, KOut, koutEnc}

/** Streaming cardinality — the online form of the batch HLL sketch
  * (operators/SketchQueries k02): events arrive on an unbounded
  * stream, each carries its precomputed (bucket, rank) register
  * coordinates (pure per-row expressions on the batch side of the
  * mount, same md5-derived family as k02), and a per-key state cell
  * holds the 256-register array. Register merge is max — commutative,
  * associative, idempotent — so the final state is independent of how
  * the stream was chunked into micro-batches: THE mergeable-sketch
  * property, demonstrated across real micro-batch boundaries instead
  * of claimed.
  *
  * Each batch emits the key's running totals (events seen, registers
  * hit, register sum) plus the running estimate; the registered query
  * keeps only the final row per key, whose integer register state is
  * what the DuckDB oracle hash-checks (the estimate's small-range
  * branch is ln()-based, and libm ulp parity across engines is not a
  * promise the gate should rest on — SketchSpec pins the estimate
  * JVM-side instead).
  *
  * Scale: state is one 256-int array + a counter per key — O(m) per
  * distinct stream key, RocksDB-capable, watermark-free (the sketch
  * never grows); this is the shape of every production streaming
  * distinct-count (Dataflow/Flink HLL accumulators).
  */
object StreamingSketch {

  final case class HllSt(regs: Array[Int], n: Long)
  implicit val hllStEnc: Encoder[HllSt] = Encoders.product[HllSt]

  private val M = 256

  /** (registers hit, Σ 2^(33-r) over all m registers incl. empties). */
  def registerStats(regs: Array[Int]): (Long, Long) = {
    var hit = 0L; var s = 0L; var i = 0
    while (i < M) {
      if (regs(i) > 0) hit += 1
      s += 1L << (33 - regs(i))
      i += 1
    }
    (hit, s)
  }

  /** Same estimate arithmetic as k02 (identical literals), with the
    * small-range linear-counting branch of Flajolet et al. */
  def estimate(regs: Array[Int]): Double = {
    val (hit, s) = registerStats(regs)
    val raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 8589934592.0 /
      s.toDouble
    val zeros = M - hit
    if (raw <= 640.0 && zeros > 0) 256.0 * math.log(256.0 / zeros.toDouble)
    else raw
  }

  /** Mount on a streaming KEv frame where topic = register bucket and
    * value = register rank: per micro-batch, merges the batch's rows
    * into the per-key register state and emits the running totals —
    * KOut(key, ts = events seen, value = running estimate,
    * text = "registersHit,registerSum"). */
  def hllStream(ds: Dataset[KEv]): Dataset[KOut] =
    foldPerKey(ds, HllSt(new Array[Int](M), 0L)) { (st, evs) =>
      val regs = st.regs.clone()
      val n = evs.foldLeft(st.n) { (n, e) =>
        regs(e.topic) = math.max(regs(e.topic), e.value.toInt)
        n + 1
      }
      HllSt(regs, n)
    } { (key, st) =>
      val (hit, s) = registerStats(st.regs)
      KOut(key, st.n, estimate(st.regs), s"$hit,$s")
    }

  /** Per key and micro-batch: fold the batch into the key's state
    * (`zero` for a new key) and emit one row of running totals. */
  private def foldPerKey[St: Encoder](ds: Dataset[KEv], zero: => St)(
      add: (St, Iterator[KEv]) => St)(emit: (String, St) => KOut): Dataset[KOut] =
    StatefulRunner.byKey(ds).flatMapGroupsWithState[St, KOut](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (key: String, evs: Iterator[KEv], gs: GroupState[St]) =>
        val st = add(gs.getOption.getOrElse(zero), evs)
        gs.update(st)
        Iterator(emit(key, st))
    }

  // ---- streaming dyadic quantile sketch (k10) --------------------------------

  /** Dyadic quantile-sketch state: exact counters per (level, cell)
    * over a 17-bit value domain, levels 0..11 (cell = v >> (17 − l)),
    * packed as (l << 17) | c → count. Counter merge is +, so the state
    * is chunk-invariant like the HLL registers — the Cormode &
    * Muthukrishnan dyadic-decomposition quantile structure (the CM
    * paper layers approximate counters per level; exact counters here,
    * the 100 TB knob being the kept-level cap). */
  final case class DyadicSt(cells: Map[Long, Long], n: Long)
  implicit val dyadicStEnc: Encoder[DyadicSt] = Encoders.product[DyadicSt]

  val DyadicBits = 17
  val DyadicLevels = 12

  /** Fold one value into the cell map (all 12 levels). */
  def dyadicAdd(cells: Map[Long, Long], v: Long): Map[Long, Long] = {
    require(v >= 0 && v < (1L << DyadicBits),
      s"dyadic: value $v outside the ${DyadicBits}-bit domain")
    (0 until DyadicLevels).foldLeft(cells) { (m, l) =>
      val key = (l.toLong << DyadicBits) | (v >> (DyadicBits - l))
      m.updated(key, m.getOrElse(key, 0L) + 1L)
    }
  }

  /** Type-1 quantile from the sketch: descend to the finest level's
    * cell whose cumulative count reaches rank ceil(p·n); returns the
    * cell's LOW domain value (error bounded by the cell width
    * 2^(bits − levels + 1) = 64). */
  def dyadicQuantileLo(cells: Map[Long, Long], n: Long, p: Double): Long = {
    val fine = DyadicLevels - 1
    val rank = math.max(1L, math.ceil(p * n).toLong)
    val fineCells = cells.iterator.collect {
      case (k, c) if (k >> DyadicBits) == fine => ((k & 0x1ffffL), c)
    }.toArray.sortBy(_._1)
    var cum = 0L
    var i = 0
    while (i < fineCells.length) {
      cum += fineCells(i)._2
      if (cum >= rank)
        return fineCells(i)._1 << (DyadicBits - fine)
      i += 1
    }
    require(false, s"dyadic: rank $rank beyond the sketch's $cum items")
    -1L
  }

  /** Mount on a streaming KEv frame where value = the (bounded) domain
    * value: per micro-batch, folds the batch into the per-key cell
    * counters and emits the running totals — KOut(key, ts = events
    * seen, value = running median cell low, text =
    * "cellsTotal,medianLo"). The registered query keeps the final row
    * per key; the oracle replays both integers (the counters are
    * exact, so the sketch is a deterministic function of the SET). */
  def dyadicStream(ds: Dataset[KEv]): Dataset[KOut] =
    foldPerKey(ds, DyadicSt(Map.empty, 0L)) { (st, evs) =>
      evs.foldLeft(st)((st, e) =>
        DyadicSt(dyadicAdd(st.cells, e.value.toLong), st.n + 1))
    } { (key, st) =>
      val q50 = dyadicQuantileLo(st.cells, st.n, 0.5)
      KOut(key, st.n, q50.toDouble, s"${st.cells.size},$q50")
    }
}
