package graft.streaming

import graft.streaming.StateMachines._
import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Mounts a pure [[StateMachines.Machine]] on Spark, in both execution
  * modes:
  *
  *  - '''streaming''': `flatMapGroupsWithState` over a keyed stream —
  *    the reference's one-state-object-per-task model
  *    (/root/reference/streamtasks/system/task.py:28-34) becomes one
  *    state-store entry per pipeline key, distributed across
  *    executors and checkpointed (RocksDB-capable) instead of held in
  *    a Python object;
  *  - '''batch''': `flatMapGroups` with identical per-key semantics —
  *    used for oracle-checked equivalence tests and backfills.
  *
  * The streaming mounts share one body and differ only in how they arm
  * a key's timer; [[runBatch]] and [[TwsRunner]] share its fold. All
  * group on the `key` column. State is kept as [[StateCodec]] bytes of
  * `Some(state)`, the schema and bytes of the former Kryo state
  * encoder, so a checkpoint it wrote resumes (PipelineSpec, calc → gate).
  *
  * Ordering: the reference guarantees per-operator total order via its
  * synchronizer (client/topic.py:117-165). Micro-batches don't, so the
  * runner sorts each group's batch by (ts, priority, seq) before
  * folding — equal semantics within a batch; across batches events are
  * assumed watermark-ordered (late data handling is each machine's
  * documented rule, e.g. the synchronizer's drop).
  *
  * Scale: state is keyed by `key` (pipeline instance). A deployment
  * with millions of independent pipelines (e.g. per-device gates)
  * spreads over all executors; each group's fold is O(batch rows) with
  * O(1)–O(buffer) state.
  */
object StatefulRunner {

  /** A keyed event row: `key` selects the operator instance. */
  final case class KEv(key: String, topic: Int, ts: Long, value: Double,
      text: String, paused: Boolean, seq: Long)

  final case class KOut(key: String, ts: Long, value: Double, text: String,
      paused: Boolean = false)

  implicit val kevEnc: Encoder[KEv] = Encoders.product[KEv]
  implicit val koutEnc: Encoder[KOut] = Encoders.product[KOut]
  implicit val strEnc: Encoder[String] = Encoders.STRING

  private[streaming] def byKey(ds: Dataset[KEv]): KeyValueGroupedDataset[String, KEv] =
    ds.groupBy(col("key")).as[String, KEv]

  private[streaming] def sorted[S](m: Machine[S], es: Iterator[KEv]): Seq[KEv] =
    if (m.arrivalOrder) es.toVector.sortBy(_.seq)
    else es.toVector.sortBy(e => (e.ts, m.priority(e.topic), e.seq))

  private[streaming] def keyed(key: String, outs: Seq[Out]): Seq[KOut] =
    outs.map(o => KOut(key, o.ts, o.value, o.text, o.paused))

  private[streaming] def fold[S](m: Machine[S], key: String, s0: S, es: Seq[KEv]): (S, Seq[KOut]) =
    es.foldLeft((s0, Vector.empty[KOut])) { case ((s, acc), e) =>
      val (s2, outs) = m.step(s, Ev(e.topic, e.ts, e.value, e.text, e.paused))
      (s2, acc ++ keyed(key, outs))
    }

  /** The machine's end-of-input or timer emissions for state `s`. */
  private[streaming] def onTimeout[S](m: Machine[S], key: String, s: Option[S]): Seq[KOut] =
    (m, s) match {
      case (t: Timed[S @unchecked], Some(st)) => keyed(key, t.onTimeout(st))
      case _ => Nil
    }

  /** Batch execution: group by key, fold in order, append the
    * machine's end-of-input emissions (detector trailing 0,
    * synchronizer flush). */
  def runBatch[S](machine: Machine[S], ds: Dataset[KEv]): Dataset[KOut] =
    byKey(ds).flatMapGroups { (key: String, es: Iterator[KEv]) =>
      val (s, outs) = fold(machine, key, machine.init, sorted(machine, es))
      (outs ++ onTimeout(machine, key, Some(s))).iterator
    }

  /** Streaming execution: flatMapGroupsWithState in append mode with a
    * processing-time timeout for emit-without-input machines
    * (detector; SURVEY §7.4 "emit-without-input"). */
  def runStreaming[S](machine: Machine[S], ds: Dataset[KEv],
      timeoutMs: Long = 0L): Dataset[KOut] =
    if (timeoutMs <= 0) mount(machine, ds, GroupStateTimeout.NoTimeout())((_, _) => ())
    else mount(machine, ds, GroupStateTimeout.ProcessingTimeTimeout())(
      (gs, _) => gs.setTimeoutDuration(timeoutMs))

  /** Streaming execution on EVENT-TIME timers: the machine's
    * emit-without-input path (detector trailing 0,
    * messagedetector.py:30-88) driven by the WATERMARK instead of the
    * wall clock — the semantics the reference's event-time mode
    * actually specifies. `deadline(state)` names the event-time
    * instant the machine wants to wake at; when the watermark passes
    * it with no new data for the key, `onTimeout` fires and the state
    * retires. A deadline already behind the watermark is clamped to
    * watermark+1 — the wake is late (it fires next batch) but the
    * machine's OUTPUT timestamps come from its own state, so the
    * emitted rows are identical; if data for the key lands first the
    * fold handles the gap itself and the timer never fires (per-batch,
    * keys with data never time out).
    *
    * Scale: identical distribution story to [[runStreaming]] — one
    * state-store entry per key, RocksDB-capable — plus the timer
    * registry the state store already maintains; no extra shuffle. */
  def runStreamingEventTime[S](machine: Machine[S] with Timed[S],
      ds: Dataset[KEv], deadline: S => Option[Long]): Dataset[KOut] = {
    val wm = ds.withColumn("eventTime", timestamp_millis(col("ts")))
      .withWatermark("eventTime", "0 milliseconds")
      .as[KEv](kevEnc)
    mount(machine, wm, GroupStateTimeout.EventTimeTimeout()) { (gs, s) =>
      deadline(s).foreach { d =>
        gs.setTimeoutTimestamp(math.max(d, gs.getCurrentWatermarkMs + 1))
      }
    }
  }

  /** The keyed-machine mount: fold each key's batch onto its stored
    * state and `arm` the key's timer. When the timer fires instead, emit
    * the machine's `onTimeout` rows, then re-`arm` if the machine keeps
    * its state on timeout (repeater), else retire the state. */
  private def mount[S](machine: Machine[S], ds: Dataset[KEv],
      timeout: GroupStateTimeout)(arm: (GroupState[_], S) => Unit): Dataset[KOut] = {
    implicit val se: Encoder[Option[S]] = StateCodec.encoder[Option[S]]
    byKey(ds).flatMapGroupsWithState[Option[S], KOut](OutputMode.Append(), timeout) {
      (key: String, es: Iterator[KEv], gs: GroupState[Option[S]]) =>
        val stored = gs.getOption.flatten
        if (gs.hasTimedOut) {
          (machine, stored) match {
            case (t: Timed[_], Some(s)) if !t.removeOnTimeout => arm(gs, s)
            case _ => gs.remove()
          }
          onTimeout(machine, key, stored).iterator
        } else {
          val (s, outs) = fold(machine, key, stored.getOrElse(machine.init),
            sorted(machine, es))
          gs.update(Some(s))
          arm(gs, s)
          outs.iterator
        }
    }
  }
}
