package graft.streaming

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner.{KEv, KOut}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Mounts a pure [[StateMachines.Machine]] on `transformWithState`
  * (Spark 4.x `StatefulProcessor`) — the modern twin of
  * [[StatefulRunner.runStreaming]]'s `flatMapGroupsWithState` mount,
  * with identical per-key semantics:
  *
  *  - each micro-batch's rows fold in (ts, priority, seq) order — the
  *    order the reference's PrioritizedSequentialInTopicSynchronizer
  *    establishes (/root/reference/streamtasks/client/topic.py:142-165)
  *    — or in bare arrival (`seq`) order for machines declaring
  *    [[StateMachines.Machine.arrivalOrder]], same as the fMGWS mount;
  *  - the machine state lives in a named `ValueState` (one state-store
  *    entry per pipeline key, RocksDB-capable — transformWithState
  *    requires the RocksDB provider, which IS the scale-path config)
  *    as [[StateCodec]] bytes of the state, the schema and bytes the
  *    former Kryo `Encoder[S]` value state wrote; the batch is sorted and
  *    folded by [[StatefulRunner]]'s own `sorted`/`fold`, grouped on
  *    the `key` column as every mount is;
  *  - a [[StateMachines.Timed]] machine arms a processing-time TIMER
  *    re-registered on every batch with data; expiry runs `onTimeout`
  *    and drops the state (`removeOnTimeout`) or re-arms (repeater) —
  *    exactly the `GroupStateTimeout.ProcessingTimeTimeout` path.
  *
  * Why both mounts exist: fMGWS is the stable API the whole streaming
  * surface runs on today; transformWithState adds composable typed
  * state (value/list/map), per-key timers, and state-schema evolution,
  * and is where new Spark state features land. Keeping the machine pure
  * makes the two mounts provably interchangeable (StreamingE2ESpec
  * pins cross-mount equality on the detector, the timeout canonical).
  */
object TwsRunner {

  private final class MachineProcessor[S: scala.reflect.ClassTag](
      machine: Machine[S], timeoutMs: Long)
      extends StatefulProcessor[String, KEv, KOut] {
    @transient private var state: ValueState[S] = _

    private def stored: Option[S] = if (state.exists) Some(state.get) else None

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S]("machine", StateCodec.encoder[S],
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[KEv],
        tv: TimerValues): Iterator[KOut] = {
      val (s, outs) = StatefulRunner.fold(machine, key,
        stored.getOrElse(machine.init), StatefulRunner.sorted(machine, rows))
      state.update(s)
      if (timeoutMs > 0) {
        // registerTimer ADDS a timer (unlike setTimeoutDuration, which
        // replaces) — drop the stale ones so expiry fires exactly once
        // per idle gap
        getHandle.listTimers()
          .foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(tv.getCurrentProcessingTimeInMs + timeoutMs)
      }
      outs.iterator
    }

    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[KOut] = {
      val tail = StatefulRunner.onTimeout(machine, key, stored)
      machine match {
        case t: Timed[_] if !t.removeOnTimeout && timeoutMs > 0 =>
          getHandle.registerTimer(tv.getCurrentProcessingTimeInMs + timeoutMs)
        case _ => state.clear()
      }
      tail.iterator
    }
  }

  /** Streaming execution via transformWithState. Needs
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (a transformWithState requirement — and
    * the production configuration anyway). */
  def runStreaming[S: scala.reflect.ClassTag](machine: Machine[S], ds: Dataset[KEv],
      timeoutMs: Long = 0L): Dataset[KOut] = {
    // ProcessingTime keeps the micro-batch loop ticking to evaluate
    // timers (so processAllAvailable never settles) — request it only
    // when the machine actually needs timers
    val timeMode =
      if (timeoutMs > 0) TimeMode.ProcessingTime() else TimeMode.None()
    StatefulRunner.byKey(ds).transformWithState(
      new MachineProcessor(machine, timeoutMs),
      timeMode, OutputMode.Append())(StatefulRunner.koutEnc)
  }
}
