package graft.operators

import graft.{Q, Tables}
import graft.streaming.{StatefulRunner, StreamRun}
import graft.streaming.StatefulRunner.{KEv, KOut}
import graft.streaming.StateMachines
import graft.streaming.StateMachines.{Gate, TimeSyncRestamp}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-visible STREAMING parity: e24 pushes the e05 gate fixture
  * through [[StatefulRunner.runStreaming]] — the real
  * `flatMapGroupsWithState` mount, micro-batched via the FILE STREAMING
  * SOURCE with state crossing batch boundaries in the state store — and
  * returns the file-sink output, oracle-checked against the SAME window
  * SQL as e05 (gate.py:32-93 semantics). Until round 6 the streaming
  * mounts were exercised only by specs; rounds 6-8 ran them on a
  * MemoryStream fed by a driver-side collect; round 9 removes the
  * driver from the loop entirely:
  *
  *  - the fixture is written to per-micro-batch parquet files by a
  *    DISTRIBUTED job (chunk assignment = range partitioning on the
  *    fold order, so each file is a contiguous range of the order the
  *    runner folds in);
  *  - `readStream` with the file source at one file per trigger replays
  *    the chunks as micro-batches in file order — the same
  *    batch-boundary crossings the MemoryStream harness proved, now on
  *    the production source type (a directory of files is exactly how a
  *    100 TB deployment replays or tails a feed);
  *  - the mount's output lands in a parquet FILE SINK (exactly-once via
  *    _spark_metadata) and is read back as a batch frame.
  *
  * No fixture or result row ever passes through the driver: the engine
  * contains no `collect()`. Per-key event order is preserved because
  * the chunk ranges partition the global (ts, control-priority, seq)
  * sort — or the machine's arrival order — which is exactly the
  * runner's in-batch sort, so any contiguous chunking of it
  * concatenates to the same per-key fold; the runner re-sorts within
  * each micro-batch, so intra-file row order is free.
  *
  * Scale note: this IS the production shape now — swap the fixture
  * directory for a Kafka topic or an arriving-files bucket and the
  * identical `runStreaming` call distributes state per pipeline key
  * across executors (RocksDB-capable; StreamingE2ESpec runs this mount
  * on RocksDB and through a checkpoint restart). The fixture is bounded
  * (a few event types of the events table) and cut into 3 micro-batches
  * so the cross-batch state path genuinely executes (state crosses 2
  * batch boundaries). */
object StreamParityQueries {

  /** Chunk-file directories by fixture tag — see [[throughStream]]'s
    * `tag` doc. computeIfAbsent serializes concurrent builders of the
    * same fixture (Verify runs e24 and e26 in parallel). */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()

  /** Trained-model directories by tag (e40's bigram table): `build`
    * writes the model DISTRIBUTED into the returned dir (part files —
    * the ship-weights-by-path pattern); cached per JVM like the
    * fixture chunks, in a [[StreamRun.workdir]]. */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def modelDirFor(tag: String)(build: String => Unit): String =
    modelCache.computeIfAbsent(tag, _ => {
      val dir = StreamRun.workdir("model").toString
      build(dir)
      dir
    })

  /** Runs `fixture` through a streaming mount end-to-end DISTRIBUTED,
    * returning the mount's output as a (lazy) KOut-shaped frame.
    *
    *  1. `fixture` is [[StreamRun.stage]]d into 3 per-micro-batch
    *     parquet chunks, range-partitioned on `order` (the fold order —
    *     each chunk is a contiguous range, the property that makes
    *     chunked folds equal the unchunked fold).
    *  2. The stream runs on a [[StreamRun.session]] with `streamConf`
    *     on top, so per-stream conf pins (state-store width, provider
    *     class) never touch the shared batch session.
    *     `maxFilesPerTrigger=1` replays one chunk per micro-batch,
    *     oldest first; state crosses 2 batch boundaries.
    *  3. [[StreamRun.drain]] runs the mount into a parquet file sink
    *     and reads it back as a batch frame on the caller's session.
    *
    * Watermark-advancing SENTINEL ROWS (event-time timer / windowed /
    * eviction mounts) ride the last data chunk — they carry the
    * maximum (order) key, so range partitioning places them there —
    * and the armed timers / closed windows fire in the trailing
    * no-data micro-batch (enable noDataMicroBatches in `streamConf`):
    * the watermark is computed between batches, so the firing batch
    * is always the one after the advance.
    *
    * `tag` keys the chunk-file cache: the fixture build is
    * deterministic in (tag, sf dir), so repeated runs in one JVM —
    * bench's min-of-two, and mounts sharing a fixture (e24/e26,
    * e27/e30) — reuse the already-written source files. Only the
    * SOURCE is reused: every run gets a fresh session, checkpoint and
    * sink, so the stream itself (the thing under measurement) executes
    * fully each time — like benching a query over an existing table. */
  private[graft] def throughStream(s: SparkSession, fixture: => DataFrame,
      order: => Seq[Column], tag: String,
      mount: Dataset[KEv] => Dataset[KOut],
      streamConf: Map[String, String]): DataFrame = {
    val srcDir = fixtureCache.computeIfAbsent(tag, _ => {
      val dir = StreamRun.workdir("src")
      StreamRun.stage(fixture, order, 3, dir)
      dir
    })
    val src = StreamRun.session(s, streamConf).readStream
      .schema(StatefulRunner.kevEnc.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir.toString)
      .as[KEv](StatefulRunner.kevEnc)
    StreamRun.drain(s, mount(src).toDF(), StreamRun.workdir("run"), tag)
  }

  /** Shared harness: the e05 gate fixture through any streaming mount
    * of the [[Gate]] machine, in 3 micro-batches, post-projected to
    * the e05-shaped (pipeline, event_id, ts_ms, value) frame.
    * `streamConf` entries are pinned for the stream's FIRST start
    * (they go into checkpoint metadata — state-store width, provider
    * class); the isolated session inside [[throughStream]] keeps the
    * pins off the shared batch session. */
  private def gateThroughStream(s: SparkSession, d: String,
      mount: Dataset[KEv] => Dataset[KOut],
      streamConf: Map[String, String]): DataFrame = {
    val e = Tables.eventsMs(s, d)
    // e05's fixture, keyed for the runner: topic 0 = click data (the
    // event_id rides in `text` so forwarded rows stay identifiable),
    // topic 1 = error control with sig = value > 10.
    val kev = e.filter(col("event_type").isin("click", "error"))
      .select(
        pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        col("ts_ms").as("ts"),
        when(col("event_type") === "click", col("value"))
          .otherwise(when(col("value") > 10, 1.0).otherwise(0.0)).as("value"),
        when(col("event_type") === "click", col("event_id").cast(StringType))
          .otherwise(lit(null).cast(StringType)).as("text"),
        lit(false).as("paused"),
        col("event_id").as("seq"))
    throughStream(s, kev,
      Seq(col("ts"), when(col("topic") === 1, 0).otherwise(1), col("seq")),
      s"gate@$d", mount, streamConf)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"))
      .orderBy(col("event_id"))
  }

  private def e24(s: SparkSession, d: String): DataFrame =
    gateThroughStream(s, d,
      ds => StatefulRunner.runStreaming(new Gate(failOpen = false), ds),
      Map.empty)

  /** e26: the SAME gate fixture through the transformWithState mount
    * ([[graft.streaming.TwsRunner]] — StatefulProcessor + ValueState)
    * on the RocksDB state store provider (a transformWithState
    * requirement, and the production scale configuration: state spills
    * to disk instead of heap). Three streaming facts land under the
    * driver's hash gate at once: the modern API's semantics equal the
    * fMGWS mount (e24), equal the batch window analogue (e05), equal
    * DuckDB — on state that genuinely crosses micro-batch boundaries
    * through RocksDB. */
  private def e26(s: SparkSession, d: String): DataFrame =
    gateThroughStream(s, d,
      ds => graft.streaming.TwsRunner.runStreaming(
        new Gate(failOpen = false), ds),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")))

  /** e27: the SYNCHRONIZER machine — the reference's watermark
    * (synchronizer.py:14-35 + client/topic.py:117-140) and the
    * subtlest dict semantics in §2.3 — through the REAL
    * `flatMapGroupsWithState` mount, state crossing 2 micro-batch
    * boundaries, hash-checked against e13's window SQL in DuckDB.
    *
    * The fixture is e13's: all five event types as topics, per-topic
    * arrival order (user_id, event_id) — a deterministic shuffle that
    * runs AGAINST timestamp order, so the late-drop rule genuinely
    * fires across batch boundaries. `seq` carries the arrival rank
    * (user_id·2²⁰ + event_id packs it order-faithfully); the machine
    * declares [[StateMachines.Machine.arrivalOrder]] so the runner
    * folds in that order instead of its (ts, priority, seq) default —
    * and the chunk split uses the same order, keeping chunks
    * contiguous in the fold.
    *
    * Equality with the window SQL: the machine's reg(t) equals the
    * running max of ACCEPTED ts per topic, and a dropped event (ts
    * below the running max over all prior arrivals) never raises the
    * max — so machine drops ≡ `ts < max(ts) OVER arrival-ordered
    * rows`; release order differs (the machine merges on the dict
    * min) but both sides end ORDER BY (ts, event_id).
    *
    * End-of-stream flush: the reference flushes blocked messages at
    * container close; here one PAUSE sentinel per topic trails the
    * stream (seq = MaxValue−4+t → last chunk) — each pops its topic
    * from the dict as it reaches the queue head (set_paused,
    * topic.py:132-134), so the remaining topics' min rises and every
    * buffered row releases. Pure reference semantics — no out-of-band
    * flush path. */
  private def e27(s: SparkSession, d: String): DataFrame =
    synchronizerThroughStream(s, d,
      (n, ds) => StatefulRunner.runStreaming(
        new StateMachines.Synchronizer(n), ds),
      Map.empty)

  /** e30: the SAME synchronizer fixture through the transformWithState
    * mount on RocksDB — the modern typed-state API and the production
    * state backend carrying the engine's subtlest machine, hash-equal
    * to e13, e27, and DuckDB at once (the TwS twin of e26's gate
    * proof, now on the watermark machine with arrival-order folds). */
  private def e30(s: SparkSession, d: String): DataFrame =
    synchronizerThroughStream(s, d,
      (n, ds) => graft.streaming.TwsRunner.runStreaming(
        new StateMachines.Synchronizer(n), ds),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")))

  private def synchronizerThroughStream(s: SparkSession, d: String,
      mount: (Int, Dataset[KEv]) => Dataset[KOut],
      streamConf: Map[String, String]): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = Tables.eventsMs(s, d)
    val topic = (array_position(lit(types.toArray), col("event_type")) - 1)
      .cast(IntegerType)
    // seq packs the arrival rank (user_id·2²⁰ + event_id; event_id <
    // 2²⁰ at every SF, so + ≡ |) — the order the machine folds in.
    val kev = e.select(lit("0").as("key"), topic.as("topic"),
      col("ts_ms").as("ts"), topic.cast(DoubleType).as("value"),
      col("event_id").cast(StringType).as("text"),
      lit(false).as("paused"),
      (shiftleft(col("user_id").cast(LongType), 20) + col("event_id"))
        .as("seq"))
    implicit val kevEnc: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val flush = s.createDataset(types.indices.map(t =>
      KEv("0", t, 0L, 1.0, null, paused = true,
        seq = Long.MaxValue - 4 + t))).toDF()
    val outs = throughStream(s, kev.unionByName(flush), Seq(col("seq")),
      s"sync@$d", ds => mount(types.length, ds), streamConf)
    val typeExpr = element_at(
      lit(types.toArray), col("value").cast(IntegerType) + 1)
    outs.filter(!col("paused"))
      .select(col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), typeExpr.as("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
  }

  // ------------------------------------------------- packed-ts identity
  // Machines that emit NEW messages (latch state, formatted text, a
  // flushed accumulator) carry no forwarded text channel, so the sink
  // rows can't be joined back to their triggering events the way the
  // gate/switch forwards allow. But none of these machines does ts
  // ARITHMETIC — only the fold ORDER matters — so an order-isomorphic
  // relabeling of ts is semantics-preserving: pack
  // ts = ts_ms·2²⁰ + event_id (or ·2²¹ with the machine's data-first
  // priority bit at 2²⁰ when the oracle's order includes it) and every
  // output row unpacks back to (ts_ms, event_id) after the sink read.
  // event_id < 2²⁰ at every SF and ts_ms·2²¹ < 2⁶³ — checked.
  private val Pack = 1L << 20

  /** Shared mount for the packed-ts machines: `fixture` (packed ts =
    * the fold order) through `runStreaming` in 3 micro-batches;
    * returns non-pause sink rows unpacked to
    * (pipeline, event_id, ts_ms) plus the machine's output column. */
  private def packedThroughStream[S](s: SparkSession, fixture: DataFrame,
      tag: String, machine: StateMachines.Machine[S], shift: Int,
      outCol: Column): DataFrame =
    throughStream(s, fixture, Seq(col("ts")), tag,
      ds => StatefulRunner.runStreaming(machine, ds), Map.empty)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        pmod(col("ts"), lit(Pack)).as("event_id"),
        shiftright(col("ts"), shift).as("ts_ms"),
        outCol)
      .orderBy(col("event_id"))

  /** e31: the SR LATCH — LEVEL-based hold semantics, the rule an
    * edge-based formulation gets wrong — through the real
    * flatMapGroupsWithState mount, state crossing 2 micro-batch
    * boundaries, hash-equal to e08's window SQL in DuckDB. Fixture is
    * e08's (set = click value>10, reset = error value>10, thresholded
    * Spark-side exactly as the SQL does); identity via packed ts. */
  private def e31(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val rows = e.filter(col("event_type").isin("click", "error"))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        (col("ts_ms") * Pack + col("event_id")).as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast(StringType).as("text"),
        lit(false).as("paused"),
        col("event_id").as("seq"))
    packedThroughStream(s, rows, s"e31@$d", new StateMachines.SrLatch(),
      20, col("value").as("state"))
  }

  /** e32: the TEXT FORMATTER — template over the last value of each
    * named variable, emitted on every valid arrival — through the
    * streaming mount, hash-equal to e09's window SQL. The DECIMAL
    * rendering happens Spark-side in the fixture (exactly e09's cast
    * chain) so the machine sees the identical var strings. */
  private def e32(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val rows = e.filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        (col("ts_ms") * Pack + col("event_id")).as("ts"),
        lit(0.0).as("value"),
        col("value").cast(DecimalType(12, 2)).cast(StringType).as("text"),
        lit(false).as("paused"),
        col("event_id").as("seq"))
    packedThroughStream(s, rows, s"e32@$d",
      new StateMachines.TextFormatter(2,
        vars => s"a=${vars(0)} b=${vars(1)}"), 20,
      col("text"))
  }

  /** e33: the STRING CONCATENATOR — rising-edge flush with empty-flush
    * suppression and data-before-control priority at equal ts —
    * through the streaming mount, hash-equal to e10's group SQL. The
    * oracle's order is (ts_ms, is_ctrl, event_id), so the pack puts
    * the machine's priority bit at 2²⁰: ts = ts_ms·2²¹ + is_ctrl·2²⁰
    * + event_id. The flush row's ts is the triggering control event's,
    * so the trigger id unpacks from the sink directly — the channel
    * that blocked this mount before the packed-ts scheme. */
  private def e33(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val rows = e.filter(col("event_type").isin("click", "error"))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        (col("ts_ms") * (2 * Pack)
          + when(col("event_type") === "error", Pack).otherwise(0L)
          + col("event_id")).as("ts"),
        when(col("event_type") === "error",
          when(col("value") > 10, 1.0).otherwise(0.0))
          .otherwise(0.0).as("value"),
        when(col("event_type") === "click",
          concat(lit("e"), col("event_id"), lit(";")))
          .otherwise(lit(null).cast(StringType)).as("text"),
        lit(false).as("paused"),
        col("event_id").as("seq"))
    packedThroughStream(s, rows, s"e33@$d",
      new StateMachines.StringConcatenator(), 21, col("text"))
  }

  /** e34: the MESSAGE DETECTOR on EVENT-TIME TIMERS — the reference's
    * emit-without-input path (messagedetector.py:30-88: liveness 1 per
    * message, 0 at lastTs+timeout when the stream goes quiet) driven
    * by the WATERMARK through `flatMapGroupsWithState` with
    * `EventTimeTimeout`, hash-equal to e11's lead-window SQL. The
    * in-stream gap 0s come from the fold; the TRAILING 0 per user is a
    * real state-store timer fired by watermark passage (two sentinel
    * batches advance it past every armed deadline) — the one streaming
    * subsystem (timers) the driver gate did not exercise before. The
    * timer-fires-vs-data-arrives race is semantics-free by
    * construction: data for a key in the firing batch folds the gap
    * itself and the timer is superseded; a timer that fired before a
    * later event re-inits the key and the fold emits the same rows the
    * batch oracle derives. Keyed by user_id → state and timers
    * distribute across executors. */
  private def e34(s: SparkSession, d: String): DataFrame = {
    val timeout = 600000L
    val e = Tables.eventsMs(s, d)
    val rows = e.select(col("user_id").cast(StringType).as("key"),
      lit(0).as("topic"), col("ts_ms").as("ts"), lit(0.0).as("value"),
      lit(null).cast(StringType).as("text"), lit(false).as("paused"),
      col("event_id").as("seq"))
    // 1-row aggregate bound (like the tick-grid bounds frames)
    val maxTs = e.agg(max(col("ts_ms"))).head().getAs[Number](0).longValue
    // ONE sentinel ROW riding the LAST DATA CHUNK (maximum ts → range
    // partitioning places it there): the final data batch advances the
    // watermark past every armed deadline (all ≤ maxTs+timeout), and
    // the trailing NO-DATA batch (noDataMicroBatches, enabled below)
    // is where those timers fire — watermark updates between batches,
    // so the firing batch is always the one after the advance. 4
    // micro-batches total; round 9's sentinel TAIL batch made it 5,
    // and the earlier MemoryStream harness ran two sentinels — each
    // extra batch costs a full state-store commit cycle across every
    // partition, ~0.6 s here.
    implicit val kevEncE34: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val sentinel = s.createDataset(Seq(KEv("wm", 0, maxTs + timeout + 1,
      0.0, null, paused = true, seq = 0L))).toDF()
    val outs = throughStream(s, rows.unionByName(sentinel),
      Seq(col("ts"), col("seq")),
      s"e34@$d",
      ds => StatefulRunner.runStreamingEventTime(
        new StateMachines.MessageDetector(timeout), ds,
        (st: StateMachines.DetectorState) =>
          if (st.up) Some(st.lastTs + timeout) else None),
      // ~1500 user keys (vs the gate mounts' 2 pipelines): width 8.
      // Round 9 profile (per-batch durationMs): the per-BATCH floor
      // (state-store load/commit across every partition + WAL + plan,
      // ~0.5 s) dominates the per-KEY fold cost, so 16 partitions
      // bought nothing over 8 (and 4 measured the same) — the width
      // knob sizes to keys ONLY once batches are CPU-bound, which
      // ~190 keys/task of trivial folds is not.
      // noDataMicroBatches stays ON here: the trailing per-user 0s are
      // EventTimeTimeout timers, and the batch that fires the last of
      // them is exactly the no-data batch after the final data chunk
      // (whose sentinel row advanced the watermark).
      Map("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "true"))
    outs.filter(!col("paused"))
      .select(col("key").cast(LongType).as("user_id"),
        col("ts").as("ts_ms"), col("value").as("detect"))
      .orderBy(col("user_id"), col("ts_ms"), col("detect"))
  }

  /** e35: the TIME BUFFER (timebuffer.py:38-63 message mode — hold
    * each message until the newest seen timestamp runs `size` ahead;
    * the tail stays buffered at end of input) through the streaming
    * mount, hash-equal to e12's cutoff SQL. The buffer state crosses
    * 2 micro-batch boundaries — rows held at batch N release in batch
    * N+2 when the newest timestamp finally outruns them, which is the
    * cross-batch behavior the batch analogue cannot show. Row identity
    * rides the text channel (event_id), the machine's passthrough
    * payload. */
  private def e35(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val rows = e.select(lit("0").as("key"), lit(0).as("topic"),
      col("ts_ms").as("ts"), col("value"),
      col("event_id").cast(StringType).as("text"),
      lit(false).as("paused"), col("event_id").as("seq"))
    throughStream(s, rows, Seq(col("ts"), col("seq")), s"e35@$d",
      ds => StatefulRunner.runStreaming(
        new StateMachines.TimeBuffer(3600000L), ds), Map.empty)
      .filter(!col("paused"))
      .select(col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"))
      .orderBy(col("event_id"))
  }

  /** e28: the SWITCH machine through the streaming mount, hash-equal
    * to e06's insertion-ordered-dict window SQL in DuckDB. Fixture:
    * click/error = pair 0 data/control, view/signup = pair 1, keyed
    * per pipeline, event ids riding in `text` (the switch forwards
    * the whole message, so forwarded rows stay identifiable); `pair`
    * — a static attribute of the event type, not a machine decision —
    * is re-attached by event id after the sink read. State (the
    * control dict + insertion order) crosses 2 micro-batch
    * boundaries. */
  private def e28(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "view", "signup")
    val e = Tables.eventsMs(s, d)
    val topic = (array_position(lit(types.toArray), col("event_type")) - 1)
      .cast(IntegerType)
    val kev = e.filter(col("event_type").isin(types: _*))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        topic.as("topic"), col("ts_ms").as("ts"), col("value"),
        when(topic % 2 === 0, col("event_id").cast(StringType))
          .otherwise(lit(null).cast(StringType)).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val outs = throughStream(s, kev,
      Seq(col("ts"), when(col("topic") % 2 === 1, 0).otherwise(1),
        col("seq")),
      s"e28@$d",
      ds => StatefulRunner.runStreaming(
        new StateMachines.Switch(pairs = 2), ds),
      Map.empty)
    val pairOf = e.select(col("event_id"),
      when(col("event_type") === "click", 0L).otherwise(1L).as("pair"))
    outs.filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"))
      .join(pairOf, "event_id")
      .select(col("pipeline"), col("event_id"), col("ts_ms"),
        col("value"), col("pair"))
      .orderBy(col("event_id"))
  }

  /** e36: the MEDIA SWITCH — a [[StateMachines.Switch]] whose cutover
    * defers to the next keyframe of the newly selected input
    * (media/mediaswitch.py:11-27) — through the streaming mount,
    * hash-equal to e07's window SQL. The machine detects keyframes via
    * `text == "k"`, so row identity CANNOT ride the text channel the
    * way e28's switch forward does — it rides the packed ts instead
    * (the machine does no ts arithmetic). The oracle's order is
    * (ts_ms, is_ctrl DESC, event_id) — control first at equal ts — so
    * the data bit sits at 2²⁰: ts = ts_ms·2²¹ + is_data·2²⁰ +
    * event_id. Keyframe := data ∧ event_id % 7 = 0, exactly e07's
    * stand-in for packet.is_keyframe. The active-index state (which
    * pair last delivered a selected keyframe) crosses 2 micro-batch
    * boundaries. `pair` — a static attribute of the event type — is
    * re-attached by event id after the sink read, as in e28. */
  private def e36(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "view", "signup")
    val e = Tables.eventsMs(s, d)
    val topic = (array_position(lit(types.toArray), col("event_type")) - 1)
      .cast(IntegerType)
    val isData = topic % 2 === 0
    val rows = e.filter(col("event_type").isin(types: _*))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        topic.as("topic"),
        (col("ts_ms") * (2 * Pack)
          + when(isData, Pack).otherwise(0L)
          + col("event_id")).as("ts"),
        col("value"),
        when(isData && col("event_id") % 7 === 0, "k")
          .otherwise(lit(null).cast(StringType)).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val outs = throughStream(s, rows, Seq(col("ts")), s"e36@$d",
      ds => StatefulRunner.runStreaming(
        new StateMachines.MediaSwitch(pairs = 2), ds),
      Map.empty)
    val pairOf = e.select(col("event_id"),
      when(col("event_type") === "click", 0L).otherwise(1L).as("pair"))
    outs.filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        pmod(col("ts"), lit(Pack)).as("event_id"),
        shiftright(col("ts"), 21).as("ts_ms"),
        col("value"))
      .join(pairOf, "event_id")
      .select(col("pipeline"), col("event_id"), col("ts_ms"),
        col("value"), col("pair"))
      .orderBy(col("event_id"))
  }

  /** e37: the CALCULATOR machine (calculator.py:227-240 — hold last
    * value per variable topic, re-evaluate and emit on every valid
    * arrival) through the streaming mount, hash-equal to c02's
    * last-value window SQL. The formula is c02's `(a + b) / 2` —
    * IEEE-754 add/divide, bit-identical between the machine's Scala
    * fold and DuckDB. Var state (the last a and b) crosses 2
    * micro-batch boundaries; identity rides the packed ts (the
    * machine emits NEW messages with the triggering ts, no text
    * channel, no ts arithmetic). */
  private def e37(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val rows = e.filter(col("event_type").isin("click", "view"))
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        (col("ts_ms") * Pack + col("event_id")).as("ts"),
        col("value"),
        lit(null).cast(StringType).as("text"),
        lit(false).as("paused"),
        col("event_id").as("seq"))
    packedThroughStream(s, rows, s"e37@$d",
      new StateMachines.Calculator(Map(0 -> 0.0, 1 -> 0.0),
        v => (v(0) + v(1)) / 2), 20,
      col("value").as("result"))
  }

  /** e38: the REPEATER (repeater.py:36-69, rate-source mode — topic 0
    * data updates the held value, topic 1 clock ticks re-emit it with
    * the tick's timestamp) through the streaming mount, hash-equal to
    * e15's union+last-value SQL. The tick grid spans the full event
    * range at 10-min steps, replicated per pipeline exactly as e15's
    * fixture builds it (same distributed tick-grid helper); the held
    * value crosses 2 micro-batch boundaries (a click in batch N keeps
    * re-emitting from ticks in batches N+1..3). No packing: the output
    * IS (pipeline, tick ts, held) — at equal ts the fold must see data
    * before ticks (a sample landing exactly on a tick is included,
    * e15's is_tick sort key), which the seq channel encodes (tick seq
    * = 2⁴⁰ + key·2³⁰ + tick index, above every event id). */
  private def e38(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val data = e.filter(col("event_type") === "click")
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
        lit(null).cast(StringType).as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val bounds = e.agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
    // tick index from the grid arithmetic itself ((ts−lo) is an exact
    // multiple of the step, so double division is exact below 2⁵³)
    val ticks = EventOps.tickGrid(bounds, 600000L)
      .crossJoin(data.select(col("key")).distinct())
      .select(col("key"), lit(1).as("topic"), col("ts_ms").as("ts"),
        lit(0.0).as("value"), lit(null).cast(StringType).as("text"),
        lit(false).as("paused"),
        (lit(1L << 40) + col("key").cast(LongType) * lit(1L << 30)
          + ((col("ts_ms") - col("lo")) / lit(600000L)).cast(LongType))
          .as("seq"))
    throughStream(s, data.unionByName(ticks), Seq(col("ts"), col("seq")),
      s"e38@$d",
      ds => StatefulRunner.runStreaming(new StateMachines.Repeater(), ds),
      Map.empty)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        col("ts").as("ts_ms"), col("value").as("held"))
      .orderBy(col("pipeline"), col("ts_ms"))
  }

  /** e39: the OUTPUT CONTAINER SYNCHRONIZER — the mux-sink
    * bounded-desync action system (outputcontainer.py:52-114: startup
    * barrier, min-duration emit, desync drop, fixpoint drain) —
    * through the streaming mount, hash-equal to e21's recursive-CTE
    * oracle. e21's exact fixture (compressed two-stream timeline) and
    * machine, chunked in the runner's (ts, topic, seq) fold order so
    * the 3-way chunking concatenates to the per-key batch fold; the
    * container's queues, dts counters, and startup barrier cross 2
    * micro-batch boundaries — a packet blocked in batch N can emit or
    * drop in batch N+2 when the other stream's duration catches up.
    * The deepest state machine in the engine, on the real streaming
    * execution path under the driver's hash check. */
  private def e39(s: SparkSession, d: String): DataFrame = {
    val (kev, machine) = ContainerQueries.e21Fixture(s, d)
    val outs = throughStream(s, kev.toDF(),
      Seq(col("ts"), col("topic"), col("seq")), s"e39@$d",
      ds => StatefulRunner.runStreaming(machine, ds), Map.empty)
    ContainerQueries.containerTrace(
      outs.filter(!col("paused")).as[KOut](StatefulRunner.koutEnc))
  }

  /** e40: the CHAT machine (llama.cpp rolling context,
    * inference/llamacppchat.py:49-77 — append user message, evict
    * oldest non-system while over the token budget, reply, append the
    * reply) through the streaming mount, with a LEARNED reply kernel:
    * the reply function is [[graft.functions.BigramLm]] — t18's
    * in-plan-trained bigram model (prev → argmax continuation over
    * the documents corpus) greedily decoding up to 3 tokens from the
    * rolling context's last token, the model shipped by PATH (trained
    * distributed, written as part files, loaded lazily per executor —
    * no collect, the m15 weights-shipping pattern). User messages are
    * real document prefixes (doc = event_id mod corpus, length
    * 1 + event_id mod 7), so the decode chains through genuine
    * corpus statistics.
    *
    * The oracle re-derives BOTH output channels: the reply text by
    * training the same bigram argmax in SQL and chaining it 3 steps
    * from each message's last token (t18's join-per-step shape, with
    * the machine's out-of-vocabulary "ok" fallback as a COALESCE),
    * and the post-eviction context size (the machine's value channel
    * — the reference's n_ctx bookkeeping) via the item-cumsum
    * range-window rule, now with VARIABLE reply sizes (the greedy
    * front-pop equals maximal-suffix-≤-budget for any item sizes: a
    * start dropped once only grows heavier). Budget 64 so eviction
    * fires continuously; context state crosses 2 micro-batch
    * boundaries; identity rides the packed ts. */
  private def e40(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    // ---- train the bigram argmax in-plan; ship it by path ----------
    val big = docs
      .select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("prev"),
            element_at(col("w"), i + 1).as("nxt"))))
        .otherwise(array().cast("array<struct<prev:string,nxt:string>>")))
        .as("p"))
      .groupBy(col("p.prev").as("prev"), col("p.nxt").as("nxt"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("prev"))
      .agg(max(struct(col("c"), col("nxt"))).as("m"))
      .select(concat_ws("\t", col("prev"), col("m.nxt")).as("value"))
    val modelDir = modelDirFor(s"bigram@$d") { dir =>
      big.write.mode("overwrite").text(dir)
    }
    // ---- fixture: document-prefix user messages per conversation ---
    val nDocs = docs.agg(count(lit(1))).head().getLong(0) // 1-row bound
    val rows = e.filter(col("event_type") === "click")
      .select((col("user_id") % 8).cast(StringType).as("key"),
        (col("ts_ms") * Pack + col("event_id")).as("ts"),
        (col("event_id") % nDocs).as("doc_id"),
        (col("event_id") % 7 + 1).cast(IntegerType).as("len"),
        col("event_id").as("seq"))
      .join(docs, "doc_id")
      .select(col("key"), lit(0).as("topic"), col("ts"), lit(0.0).as("value"),
        concat_ws(" ", slice(col("w"), lit(1), col("len"))).as("text"),
        lit(false).as("paused"), col("seq"))
    val chat = new StateMachines.Chat(None, 64,
      graft.functions.BigramLm(modelDir, steps = 3))
    throughStream(s, rows, Seq(col("ts")), s"e40@$d",
      ds => StatefulRunner.runStreaming(chat, ds), Map.empty)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("conv"),
        pmod(col("ts"), lit(Pack)).as("event_id"),
        col("value").cast(LongType).as("ctx_tok"),
        col("text").as("reply"))
      .orderBy(col("conv"), col("event_id"))
  }

  private val e40Sql =
    """WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |big AS (SELECT w[i] AS prev, w[i+1] AS nxt, count(*) AS c
      |        FROM dw, unnest(generate_series(1, len(w)-1)) AS u(i)
      |        GROUP BY 1, 2),
      |bm AS (SELECT prev, m.nxt AS nxt FROM (
      |         SELECT prev, max(struct_pack(c := c, nxt := nxt)) AS m
      |         FROM big GROUP BY prev)),
      |dec AS (SELECT b1.prev, b1.nxt AS r1, b2.nxt AS r2, b3.nxt AS r3
      |        FROM bm b1 LEFT JOIN bm b2 ON b2.prev = b1.nxt
      |                   LEFT JOIN bm b3 ON b3.prev = b2.nxt),
      |e AS (SELECT user_id % 8 AS conv, epoch_ms(ts) AS ts_ms, event_id,
      |    event_id % (SELECT count(*) FROM documents) AS doc_id,
      |    event_id % 7 + 1 AS len
      |  FROM events WHERE event_type = 'click'),
      |m AS (SELECT e.conv, e.ts_ms, e.event_id,
      |    least(e.len, len(dw.w)) AS tok,
      |    dw.w[least(e.len, len(dw.w))] AS lastTok
      |  FROM e JOIN dw ON e.doc_id = dw.doc_id),
      |rep AS (SELECT m.*,
      |    CASE WHEN dec.prev IS NULL THEN 'ok'
      |         ELSE concat_ws(' ', dec.r1, dec.r2, dec.r3) END AS reply,
      |    CASE WHEN dec.prev IS NULL THEN 1
      |         ELSE 1 + (dec.r2 IS NOT NULL)::INT + (dec.r3 IS NOT NULL)::INT
      |    END AS rlen
      |  FROM m LEFT JOIN dec ON dec.prev = m.lastTok),
      |r AS (SELECT *, row_number() OVER (PARTITION BY conv
      |        ORDER BY ts_ms, event_id) AS rn FROM rep),
      |items AS (
      |  SELECT conv, event_id, 2 * rn AS ord, tok AS sz, true AS is_user
      |  FROM r
      |  UNION ALL
      |  SELECT conv, event_id, 2 * rn + 1 AS ord, rlen AS sz, false FROM r),
      |c AS (SELECT conv, event_id, is_user,
      |    CAST(sum(sz) OVER (PARTITION BY conv ORDER BY ord) AS BIGINT) AS s
      |  FROM items),
      |w AS (SELECT conv, event_id, is_user, s,
      |    min(s) OVER (PARTITION BY conv ORDER BY s
      |      RANGE BETWEEN 64 PRECEDING AND CURRENT ROW) AS ms
      |  FROM c)
      |SELECT w.conv, w.event_id,
      |  CAST(CASE WHEN s <= 64 THEN s ELSE s - ms END AS BIGINT) AS ctx_tok,
      |  r.reply
      |FROM w JOIN r ON w.conv = r.conv AND w.event_id = r.event_id
      |WHERE w.is_user ORDER BY w.conv, w.event_id""".stripMargin

  /** e41: the WALL-CLOCK REPEATER (repeater.py:36-69 wall-clock mode —
    * every data message updates the held value AND the learned
    * stream-clock offset; each tick re-emits the held value restamped
    * to the projected stream time) under the oracle gate, e25-style:
    * an injected deterministic clock makes the restamp arithmetic
    * oracle-expressible. With clock() ≡ 0 the learned offset IS the
    * last data timestamp, so the end-of-input tick (the runner's
    * batch-mode Timed tail) emits the held value at exactly that
    * timestamp — the oracle is the per-pipeline argmax row. Gates the
    * offset-learning + hold + restamp path of the machine the
    * wall-clock spec can only pin in-JVM. */
  private def e41(s: SparkSession, d: String): DataFrame = {
    implicit val kevEnc: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type") === "click")
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
        lit(null).cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    StatefulRunner
      .runBatch(new StateMachines.WallClockRepeater(() => 0L), kev.as[KEv])
      .toDF()
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        col("ts").as("ts_ms"), col("value").as("held"))
      .orderBy(col("pipeline"))
  }

  private val e41Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id, value
      |  FROM events WHERE event_type = 'click')
      |SELECT pipeline, ts_ms, value AS held FROM (
      |  SELECT pipeline, ts_ms, value,
      |    row_number() OVER (PARTITION BY pipeline
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn
      |  FROM e)
      |WHERE rn = 1 ORDER BY pipeline""".stripMargin

  /** e25: the §2.3 TimeSynchronizer component under the oracle gate —
    * round 5's one spec-only component. The wall clock made it look
    * non-oracle-expressible; injecting a deterministic local clock
    * (clock(t) = t div 2 — the stream clock runs 2× the local one, a
    * fixed drift) makes the REAL [[graft.streaming.StateMachines
    * .TimeSync]] object's learned-offset restamping exactly a lag
    * window: out_i = ts_i div 2 + (ts_{i−1} − ts_{i−1} div 2). The
    * machine fold (one TimeSync per pipeline, keyed flatMapGroups)
    * must hash-match that window SQL in DuckDB. */
  private def e25(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type") === "click")
      .select(pmod(col("user_id"), lit(2)).cast(StringType).as("key"),
        lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    StatefulRunner
      .runBatch(new TimeSyncRestamp(t => t / 2),
        kev.as[KEv](StatefulRunner.kevEnc))
      .toDF()
      .select(col("key").cast(LongType).as("pipeline"),
        col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_sync"), col("value"))
      .orderBy(col("event_id"))
  }

  private val e25Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, event_id,
      |             epoch_ms(ts) AS ts_ms, value
      |           FROM events WHERE event_type = 'click')
      |SELECT pipeline, event_id,
      |  ts_ms // 2 + COALESCE(lag(ts_ms - ts_ms // 2) OVER (
      |    PARTITION BY pipeline ORDER BY ts_ms, event_id), 0) AS ts_sync,
      |  value
      |FROM e ORDER BY event_id""".stripMargin

  /** e42: STREAMING sessionization — Spark's `session_window`
    * streaming aggregation (dynamic-gap event-time windows merged in
    * the state store) through the same file-source micro-batch mount,
    * hash-checked against the batch gaps-and-islands formulation
    * (e18's semantics, re-grouped to (user, start, end, count)). The
    * boundary semantics agree at the SAME gap: session_window merges
    * two events iff t2 − t1 ≤ gap (the window closes at start+gap
    * inclusive — StreamingSessionSpec pins this against islands on
    * crafted Δt ∈ {gap−1, gap, gap+1} fixtures), exactly e18's
    * breaks-on-strictly-greater rule. Fixture chunks are
    * range-partitioned on EVENT TIME (an ordered log replay), so a
    * 0-delay watermark never drops data; a production tail sets the
    * delay to its disorder bound instead. One far-future sentinel
    * batch pushes the watermark past every real window's end, and the
    * trailing no-data batch emits the closed sessions in Append mode
    * before the sink is read (the same sentinel + no-data-batch
    * mechanism as the e34 timer mount); sentinel keys are filtered
    * out of the projection. Sessions genuinely cross
    * micro-batch boundaries: windows open in batch 1 and merge/extend
    * with batch-2/3 events inside the session-window state store. */
  private def e42(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val kev = e.select(
      col("user_id").cast(StringType).as("key"),
      lit(0).as("topic"),
      col("ts_ms").as("ts"),
      lit(0.0).as("value"),
      lit(null).cast(StringType).as("text"),
      lit(false).as("paused"),
      col("event_id").as("seq"))
    val maxTs = e.agg(max(col("ts_ms"))).head().getLong(0) // 1-row bound
    val gapMs = 1800000L
    // ONE sentinel ROW riding the LAST DATA CHUNK (it has the maximum
    // (ts, seq), so range partitioning puts it there): the final data
    // batch then advances the watermark past every real window's end
    // (all ≤ maxTs+gap < maxTs+2·gap), and the trailing NO-DATA batch
    // — enabled below — is where the session-window state store emits
    // the closed windows (the watermark computed from batch N applies
    // in batch N+1). 4 micro-batches total; the earlier two-sentinel
    // tail harness ran the same fixture in 5+ — each removed batch
    // saves a full state-store load/commit cycle across every
    // partition (~0.5–0.6 s, the floor SCALE.md profiles).
    implicit val kevEncE42: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val sentinel = s.createDataset(Seq(KEv("zz-sentinel", 0,
      maxTs + 2 * gapMs, 0.0, null, paused = false,
      seq = Long.MaxValue))).toDF()
    val mount = (ds: Dataset[KEv]) => {
      import org.apache.spark.sql.Encoders
      ds.select(col("key"), col("ts"),
          timestamp_millis(col("ts")).as("tsc"))
        .withWatermark("tsc", "0 seconds")
        .groupBy(col("key"), session_window(col("tsc"), s"$gapMs milliseconds"))
        .agg(min(col("ts")).as("start_ms"), max(col("ts")).as("end_ms"),
          count(lit(1)).as("n"))
        .select(col("key"), col("start_ms").as("ts"),
          col("n").cast(DoubleType).as("value"),
          col("end_ms").cast(StringType).as("text"),
          lit(false).as("paused"))
        .as[KOut](Encoders.product[KOut])
    }
    throughStream(s, kev.unionByName(sentinel),
        Seq(col("ts"), col("seq")), s"sess@$d", mount,
        Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "true"))
      .filter(col("key") =!= "zz-sentinel")
      .select(col("key").cast(LongType).as("user_id"),
        col("ts").as("start_ms"), col("text").cast(LongType).as("end_ms"),
        col("value").cast(LongType).as("n_events"))
      .orderBy(col("user_id"), col("start_ms"))
  }

  private val e42Sql =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id FROM events),
      |t AS (SELECT user_id, ts_ms, event_id,
      |    CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |              > 1800000 THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |s AS (SELECT user_id, ts_ms,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
      |  FROM t)
      |SELECT user_id, min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, session
      |ORDER BY user_id, start_ms""".stripMargin

  /** e43: STREAM-STREAM INTERVAL JOIN — the native Structured
    * Streaming join through the same file-source micro-batch mount:
    * clicks and purchases arrive on one stream (topic-tagged), split
    * into two watermarked streaming branches, and inner-join on user
    * with the attribution range `click_t ≤ purchase_t ≤ click_t+24h`.
    * This is the capability class the state-machine mounts don't
    * cover: BOTH sides buffer in the join state store, matches emit in
    * whichever batch completes the pair (pairs genuinely form across
    * micro-batch boundaries), and the range condition bounds state —
    * Spark evicts a buffered click once the watermark proves no future
    * purchase can land in its 24 h window, and a buffered purchase
    * once no future click can precede it. The reference has no join
    * operator at all (SURVEY §2.7 — gaps Spark fills natively);
    * hash-gated against the identical batch interval join.
    *
    * Watermark 0 s is sound here for the same reason as e42: chunks
    * are range-partitioned on event time (an ordered log replay), so
    * an event never arrives behind the watermark; a production tail
    * sets the delay to its disorder bound and the SAME plan runs.
    * Inner-join matches emit on arrival (emission is not
    * watermark-gated), so no sentinel tail batches are needed. */
  /** e43's mount (also driven by StreamCurve's stream_join family):
    * topic 0 = clicks, topic 1 = purchases; inner interval join on
    * key with purchase_t ∈ [click_t, click_t + 24 h]. */
  private[graft] def joinMount(ds: Dataset[KEv]): Dataset[KOut] = {
    import org.apache.spark.sql.Encoders
    val df = ds.toDF()
    val clicks = df.filter(col("topic") === 0)
      .select(col("key"), col("ts").as("c_ts"), col("text").as("c_id"),
        timestamp_millis(col("ts")).as("c_t"))
      .withWatermark("c_t", "0 seconds")
    val purchases = df.filter(col("topic") === 1)
      .select(col("key").as("p_key"), col("text").as("p_id"),
        col("value").as("p_val"), timestamp_millis(col("ts")).as("p_t"))
      .withWatermark("p_t", "0 seconds")
    clicks.join(purchases,
        col("key") === col("p_key") &&
        col("p_t") >= col("c_t") &&
        col("p_t") <= col("c_t") + expr("INTERVAL 24 HOURS"))
      .select(col("key"), col("c_ts").as("ts"), col("p_val").as("value"),
        concat(col("c_id"), lit(":"), col("p_id")).as("text"),
        lit(false).as("paused"))
      .as[KOut](Encoders.product[KOut])
  }

  /** e44's mount (also driven by StreamCurve's dedup family):
    * first-arrival-wins on (key, text) within the watermark window. */
  private[graft] def dedupMount(ds: Dataset[KEv]): Dataset[KOut] = {
    import org.apache.spark.sql.Encoders
    ds.toDF()
      .withColumn("et", timestamp_millis(col("ts")))
      .withWatermark("et", "40 days")
      .dropDuplicatesWithinWatermark("key", "text")
      .select(col("key"), col("ts"), col("value"), col("text"),
        lit(false).as("paused"))
      .as[KOut](Encoders.product[KOut])
  }

  private def e43(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    throughStream(s, kev, Seq(col("ts"), col("seq")), s"sjoin@$d",
        joinMount, Map.empty)
      .select(col("key").cast(LongType).as("user_id"),
        col("ts").as("click_ms"),
        split(col("text"), ":").getItem(0).cast(LongType).as("click_id"),
        split(col("text"), ":").getItem(1).cast(LongType).as("purchase_id"),
        col("value").as("amount"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val e43Sql =
    """SELECT c.user_id AS user_id, epoch_ms(c.ts) AS click_ms,
      |  c.event_id AS click_id, p.event_id AS purchase_id,
      |  p.value AS amount
      |FROM events c JOIN events p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND epoch_ms(p.ts) BETWEEN epoch_ms(c.ts)
      |                         AND epoch_ms(c.ts) + 86400000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** e44: STREAMING DEDUPLICATION — `dropDuplicatesWithinWatermark`
    * through the file-source mount: the at-least-once ingestion
    * reality (a Kafka replay, a retried file batch) produces the same
    * event twice, and the dedup state store emits only the first
    * arrival. The fixture replays every even-id view event a second
    * time (topic 1 marks the redelivery), chunk order putting
    * redeliveries behind their originals, so duplicates genuinely
    * match state across micro-batch boundaries; the output hash-gates
    * against the plain distinct event set — exactly-once OUT of
    * at-least-once IN, the property a 100 TB ingest front-door needs.
    * The watermark delay IS the dedup window: state for an event is
    * kept until the watermark passes its event time + delay, so the
    * delay is sized to the source's max redelivery lag (the fixture
    * spans ~30 days of event time and redeliveries can trail by the
    * whole span, hence 40 days here; a Kafka front-door with seconds
    * of redelivery lag keeps minutes of state). First-arrival-wins
    * semantics under a controlled two-batch fixture is pinned by
    * StreamingJoinDedupSpec; here originals and redeliveries are
    * field-identical so the gate is pure multiplicity. */
  private def e44(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").cast(StringType).as("key"),
        col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val kev = views.withColumn("topic", lit(0))
      .unionByName(views.filter(col("seq") % 2 === 0)
        .withColumn("topic", lit(1)))
      .select(col("key"), col("topic"), col("ts"), col("value"),
        col("text"), col("paused"), col("seq"))
    throughStream(s, kev, Seq(col("topic"), col("ts"), col("seq")),
        s"sdedup@$d", dedupMount, Map.empty)
      .select(col("key").cast(LongType).as("user_id"),
        col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"))
      .orderBy(col("event_id"))
  }

  private val e44Sql =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
      |FROM events WHERE event_type = 'view'
      |ORDER BY event_id""".stripMargin

  /** e45: the FNTASK SURFACE IN THE STREAM — the reference's core
    * promise (fntask.py:24-107: annotate a plain function, get a full
    * task) demonstrated end-to-end distributed: a FIVE-LINE
    * user-defined stateful step (`distinct-until-changed` — emit only
    * when the value differs from the key's previous value, the
    * debounce every telemetry pipeline wants) lifted by
    * [[graft.functions.FnTask.stateful]] into a [[StateMachines
    * .Machine]] and mounted UNCHANGED on the same
    * `flatMapGroupsWithState` runner every built-in machine uses:
    * per-key state in the state store, exactly-once file sink, state
    * crossing micro-batch boundaries. s08 gates tier 3 (aggregating)
    * and the batch side; this gates tier 2 where the reference's
    * fntask actually lives — the stream. Oracle: the lag() window
    * formulation of the same rule. */
  private def e45(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.StateMachines.Out
    val e = Tables.eventsMs(s, d)
    // severity-bucketed signal (floor % 4): consecutive repeats are
    // common, so the suppress path genuinely fires — on raw continuous
    // doubles no two consecutive values are equal and a broken
    // debounce would pass the gate vacuously (2014 → ~1500 rows).
    val kev = e.filter(col("event_type") === "error")
      .select(col("user_id").cast(StringType).as("key"),
        lit(0).as("topic"), col("ts_ms").as("ts"),
        pmod(floor(col("value")), lit(4)).cast(DoubleType).as("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    // the whole user-side definition:
    val debounce = graft.functions.FnTask.stateful[Option[Double]](None) {
      (st, ev) =>
        if (st.contains(ev.value)) (st, Nil)
        else (Some(ev.value), Seq(Out(ev.ts, ev.value, ev.text)))
    }
    throughStream(s, kev, Seq(col("ts"), col("seq")), s"fntask@$d",
        ds => StatefulRunner.runStreaming(debounce, ds), Map.empty)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("user_id"),
        col("text").cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"))
      .orderBy(col("event_id"))
  }

  private val e45Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |    CAST(floor(value) % 4 AS DOUBLE) AS value
      |  FROM events WHERE event_type = 'error'),
      |d AS (SELECT *, lag(value) OVER (
      |    PARTITION BY user_id ORDER BY ts_ms, event_id) AS pv FROM e)
      |SELECT user_id, event_id, ts_ms, value
      |FROM d WHERE pv IS NULL OR pv <> value
      |ORDER BY event_id""".stripMargin

  /** e46: CHAINED STATEFUL STREAMING — stream-stream interval join
    * feeding a windowed aggregation in ONE streaming query (the
    * "attribution revenue per day" production shape). Two stateful
    * operators compose in append mode with correct watermark
    * propagation (the capability Spark gained with multiple-stateful
    * -operator support): the join's two-sided buffer state AND the
    * aggregation's window state live in the same query's state store,
    * and the aggregation's windows close on the watermark the join
    * propagates. Revenue sums in integer cents (exact, order-free).
    * One sentinel tail batch carrying both topics (BOTH branches'
    * watermarks must advance, the global watermark is their min)
    * pushes event time past every window end; the trailing no-data
    * batch then emits all windows in Append mode. Sentinel keys never
    * match in the join, so they shape time without shaping data.
    * Oracle: the batch join + epoch-day grouping. */
  private def e46(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val maxTs = e.agg(max(col("ts_ms"))).head().getLong(0) // 1-row bound
    val day = 86400000L
    // ONE sentinel ROW PER TOPIC riding the LAST DATA CHUNK (maximum
    // (ts, seq) → range partitioning places them there; BOTH branches
    // must advance — the global watermark is the branch min): the
    // final data batch's watermark = maxTs+3d clears every 1-day
    // window end even after the join's 24 h propagation delay
    // (maxTs+3d−24h > maxTs+1d), and the windows flush in the
    // trailing NO-DATA batch (the e34 recipe). 4 micro-batches total
    // vs the earlier two-sentinel-tail harness's 5 — each removed
    // batch is a full state-store commit cycle (~0.5–0.6 s).
    implicit val kevEncE46: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val sentinel = s.createDataset(Seq(
      KEv("zz-c", 0, maxTs + 3 * day, 0.0, "0",
        paused = false, seq = Long.MaxValue),
      KEv("zz-p", 1, maxTs + 3 * day, 0.0, "0",
        paused = false, seq = Long.MaxValue - 1))).toDF()
    val mount = (ds: Dataset[KEv]) => {
      val df = ds.toDF()
      val clicks = df.filter(col("topic") === 0)
        .select(col("key"), col("text").as("c_id"),
          timestamp_millis(col("ts")).as("c_t"))
        .withWatermark("c_t", "0 seconds")
      val purchases = df.filter(col("topic") === 1)
        .select(col("key").as("p_key"),
          round(col("value") * 100).cast(LongType).as("cents"),
          timestamp_millis(col("ts")).as("p_t"))
        .withWatermark("p_t", "0 seconds")
      // NO sentinel filter here: sentinel keys ("zz-c"/"zz-p") never
      // equal each other, so the inner join drops them by itself — and
      // an explicit key filter would be PUSHED DOWN through join and
      // watermark into the parquet scan, eliminating the sentinel rows
      // before they can advance the watermark (measured: watermark
      // frozen at the last data batch, final windows never flush).
      clicks.join(purchases,
          col("key") === col("p_key") &&
          col("p_t") >= col("c_t") &&
          col("p_t") <= col("c_t") + expr("INTERVAL 24 HOURS"))
        .groupBy(window(col("c_t"), "1 day").as("w"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .select(lit("w").as("key"),
          unix_millis(col("w.start")).as("ts"),
          col("n").cast(DoubleType).as("value"),
          col("cents").cast(StringType).as("text"),
          lit(false).as("paused"))
        .as[KOut](Encoders.product[KOut])
    }
    throughStream(s, kev.unionByName(sentinel),
        Seq(col("ts"), col("seq")), s"sjoinagg@$d", mount,
        Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "true"))
      .select(col("ts").as("day_ms"),
        col("value").cast(LongType).as("n_pairs"),
        col("text").cast(LongType).as("revenue_cents"))
      .orderBy(col("day_ms"))
  }

  private val e46Sql =
    """SELECT (epoch_ms(c.ts) // 86400000) * 86400000 AS day_ms,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM events c JOIN events p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND epoch_ms(p.ts) BETWEEN epoch_ms(c.ts)
      |                         AND epoch_ms(c.ts) + 86400000
      |GROUP BY 1 ORDER BY day_ms""".stripMargin

  /** e47: STREAM-STATIC ENRICHMENT JOIN — the dimension-lookup shape
    * every production stream runs in front of its stateful logic: a
    * purchase stream joined per micro-batch against a BROADCAST static
    * dimension (customer → market segment), through the same
    * file-source mount and exactly-once file sink as every other
    * capability class. This is the one Structured Streaming join class
    * e43/e46 don't cover: STATELESS (no join state store — the static
    * side is a batch relation re-executed inside each micro-batch;
    * refreshing the dimension is a snapshot swap — a new path or a
    * transactional table version — not a state migration), and the
    * broadcast means the stream side never shuffles — at 100 TB/day
    * the enrichment costs zero exchanges on the hot path.
    * StreamingJoinDedupSpec pins the class mechanics the oracle can't:
    * no StateStore in the executed plan, BroadcastHashJoin on every
    * micro-batch, keys arriving in later batches enriched without any
    * buffered state. The static
    * frame is built on the stream's own isolated session from the same
    * parquet the oracle reads. Reference analog: every task reading a
    * config-bound side input next to its topic inputs (e.g. the
    * calculator's per-input default map) — here the side input is a
    * table, which is what it becomes at corpus scale. */
  private def e47(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type") === "purchase")
      .select(col("user_id").cast(StringType).as("key"),
        lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val mount = (ds: Dataset[KEv]) => {
      val dim = broadcast(Tables.customer(ds.sparkSession, d)
        .select((col("c_custkey") - 1).cast(StringType).as("k"),
          col("c_mktsegment")))
      ds.toDF()
        .join(dim, col("key") === col("k"))
        .select(col("key"), col("ts"), col("value"),
          concat_ws(":", col("text"), col("c_mktsegment")).as("text"),
          lit(false).as("paused"))
        .as[KOut](Encoders.product[KOut])
    }
    throughStream(s, kev, Seq(col("ts"), col("seq")), s"sdim@$d",
        mount, Map.empty)
      .select(col("key").cast(LongType).as("user_id"),
        split(col("text"), ":").getItem(0).cast(LongType).as("event_id"),
        col("ts").as("ts_ms"), col("value"),
        split(col("text"), ":").getItem(1).as("segment"))
      .orderBy(col("event_id"))
  }

  private val e47Sql =
    """SELECT e.user_id, e.event_id, epoch_ms(e.ts) AS ts_ms, e.value,
      |  c.c_mktsegment AS segment
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey - 1
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin

  /** e48: STREAM-STREAM LEFT OUTER INTERVAL JOIN — the last streaming
    * join class (e43 inner, e46 join→agg, e47 stream-static): clicks
    * LEFT JOIN purchases on user within the 24 h attribution window,
    * where an unmatched click emits a null-extended row ONLY once the
    * WATERMARK PROVES no future purchase can land in its window. That
    * is the genuinely new mechanism here — result emission driven by
    * state EVICTION, not by arrival: a click buffered in batch N either
    * pairs in a later batch (the e43 path) or flushes as
    * "never converted" when the watermark passes c_t + 24 h. This is
    * the funnel-analysis shape (sessions that never purchased, spans
    * that never acked) that inner joins cannot express in a stream.
    *
    * Null channels: KOut.value is a primitive Double and `concat`
    * null-annihilates, so the nullable purchase fields ride the text
    * channel via concat_ws with "n" markers; the purchase amount
    * round-trips double→string→double exactly (Spark prints the
    * shortest decimal representation, which parses back to the same
    * bits). Sentinel tail rows (both topics — the global watermark is
    * the branch min) advance event time past every click's window end;
    * a sentinel click itself emits as an unmatched left row, so
    * sentinels are filtered AFTER the sink read (an in-mount key
    * filter would push down past the watermark and starve it — the
    * e46 lesson). One sentinel round suffices: the watermark it
    * advances applies in the NEXT batch, and eviction (hence null
    * emission) happens there — the trailing no-data batch, enabled
    * for this mount (the e34 recipe).
    *
    * Scale: state is bounded by the 24 h window on both sides exactly
    * as e43; the null-flush adds no state, it is the eviction path
    * itself. Oracle: the identical batch LEFT JOIN. */
  /** e48's mount (also driven by StreamCurve's left_outer family):
    * e43's interval join, leftOuter — unmatched clicks flush as
    * null-extended rows when the watermark evicts their buffer slot.
    * Nullable fields packed into text (see e48 doc). */
  private[graft] def leftOuterJoinMount(ds: Dataset[KEv]): Dataset[KOut] = {
    import org.apache.spark.sql.Encoders
    val df = ds.toDF()
    val clicks = df.filter(col("topic") === 0)
      .select(col("key"), col("ts").as("c_ts"), col("text").as("c_id"),
        timestamp_millis(col("ts")).as("c_t"))
      .withWatermark("c_t", "0 seconds")
    val purchases = df.filter(col("topic") === 1)
      .select(col("key").as("p_key"), col("text").as("p_id"),
        col("value").as("p_val"), timestamp_millis(col("ts")).as("p_t"))
      .withWatermark("p_t", "0 seconds")
    clicks.join(purchases,
        col("key") === col("p_key") &&
        col("p_t") >= col("c_t") &&
        col("p_t") <= col("c_t") + expr("INTERVAL 24 HOURS"),
        "leftOuter")
      .select(col("key"), col("c_ts").as("ts"), lit(0.0).as("value"),
        concat_ws("|", col("c_id"),
          coalesce(col("p_id"), lit("n")),
          coalesce(col("p_val").cast(StringType), lit("n"))).as("text"),
        lit(false).as("paused"))
      .as[KOut](Encoders.product[KOut])
  }

  private def e48(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val kev = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").cast(StringType).as("key"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        col("ts_ms").as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
    val maxTs = e.agg(max(col("ts_ms"))).head().getLong(0) // 1-row bound
    val day = 86400000L
    // ONE sentinel row per topic riding the LAST DATA CHUNK (e46's
    // shape): the final data batch's watermark (maxTs+3d) proves every
    // buffered click's 24 h window closed, and the null-extended rows
    // flush in the trailing NO-DATA batch — eviction happens in the
    // batch AFTER the advance, which the no-data batch provides
    // without any sentinel tail batch's state-store commit cycle (the
    // e34 recipe; round 9 ran two sentinel tail batches here).
    implicit val kevEncE48: org.apache.spark.sql.Encoder[KEv] =
      StatefulRunner.kevEnc
    val sentinel = s.createDataset(Seq(
      KEv("zz-c", 0, maxTs + 3 * day, 0.0, "0",
        paused = false, seq = Long.MaxValue),
      KEv("zz-p", 1, maxTs + 3 * day, 0.0, "0",
        paused = false, seq = Long.MaxValue - 1))).toDF()
    throughStream(s, kev.unionByName(sentinel),
        Seq(col("ts"), col("seq")), s"sljoin@$d",
        leftOuterJoinMount,
        Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "true"))
      .filter(!col("key").startsWith("zz-"))
      .select(col("key").cast(LongType).as("user_id"),
        col("ts").as("click_ms"),
        split(col("text"), "\\|").getItem(0).cast(LongType).as("click_id"),
        when(split(col("text"), "\\|").getItem(1) === "n",
          lit(null).cast(LongType))
          .otherwise(split(col("text"), "\\|").getItem(1).cast(LongType))
          .as("purchase_id"),
        when(split(col("text"), "\\|").getItem(2) === "n",
          lit(null).cast(DoubleType))
          .otherwise(split(col("text"), "\\|").getItem(2).cast(DoubleType))
          .as("amount"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val e48Sql =
    """WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id AS user_id, c.ts_ms AS click_ms,
      |  c.event_id AS click_id, p.event_id AS purchase_id,
      |  p.value AS amount
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND p.ts_ms BETWEEN c.ts_ms AND c.ts_ms + 86400000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** e49: the REPLAY BUFFER machine (replaybuffer.py:28-92 —
    * [[StateMachines.ReplayBuffer]], round 10's addition to the Op
    * algebra) through the streaming mount, hash-checked against e16's
    * windowed formulation reprojected without the edge/window labels
    * (the machine's output is the replayed multiset; replay_ts is
    * unique per (trigger, row), so the multiset pins the same facts).
    * Fixture = e16's: clicks record; error-value>15 opens a playing
    * EPISODE that replays at most once per recording window — at the
    * rising edge when the buffer is already non-empty, else at the
    * first data arrival while live (`update_playing_state` on append,
    * anchored at the arrival itself — sync.time is wall-anchored, so
    * its event-time projection at the trigger is the trigger's ts);
    * purchases clear via an in-band pause+unpause pair on the data
    * topic (the reference's buffer.clear() + stop_play trigger, so a
    * cleared episode can replay again once the buffer refills). The
    * machine detects episodes, triggers and clears from RAW signals
    * in arrival order — the lag()/transition windows live only in the
    * oracle.
    *
    * Equal-timestamp kind order is part of e16's pinned semantics
    * (clears start the new window first; same-ms data IS included in
    * a same-ms replay, the `edge_ts >= ts_ms` rule), and the machine
    * has one ordering channel — so ts packs the kind:
    * ts' = ts_ms·4 + kind with clear=0 < data=1 < play=2. Every ts'
    * is then unique per kind and the replay arithmetic stays exact:
    * replay' = anchor' + (data' − first') where the offset is a
    * multiple of 4, so replay' keeps the anchor's kind remainder
    * (2 for edge triggers, 1 for data-arrival triggers) and
    * `replay' div 4` unpacks both. Buffer + playing state cross 2
    * micro-batch boundaries; a recording from batch N replays in
    * batch N+2. */
  private def e49(s: SparkSession, d: String): DataFrame = {
    val e = Tables.eventsMs(s, d)
    val pipe = pmod(col("user_id"), lit(2)).cast(StringType).as("key")
    val data = e.filter(col("event_type") === "click")
      .select(pipe, lit(0).as("topic"),
        (col("ts_ms") * 4 + 1).as("ts"), col("value"),
        col("event_id").cast(StringType).as("text"),
        lit(false).as("paused"), (col("event_id") * 2).as("seq"))
    // purchases → pause(true) then unpause(false): the clear pair
    val clears = e.filter(col("event_type") === "purchase")
      .select(pipe, lit(0).as("topic"), (col("ts_ms") * 4).as("ts"),
        explode(array(lit(1.0), lit(0.0))).as("flag"),
        lit(null).cast(StringType).as("text"), lit(true).as("paused"),
        col("event_id"))
      .select(col("key"), col("topic"), col("ts"),
        col("flag").as("value"), col("text"), col("paused"),
        (col("event_id") * 2 +
          when(col("flag") === 0.0, 1).otherwise(0)).as("seq"))
    val plays = e.filter(col("event_type") === "error")
      .select(pipe, lit(1).as("topic"), (col("ts_ms") * 4 + 2).as("ts"),
        when(col("value") > 15, 1.0).otherwise(0.0).as("value"),
        lit(null).cast(StringType).as("text"), lit(false).as("paused"),
        (col("event_id") * 2).as("seq"))
    throughStream(s, data.unionByName(clears).unionByName(plays),
        Seq(col("ts"), col("seq")), s"e49@$d",
        ds => StatefulRunner.runStreaming(new StateMachines.ReplayBuffer, ds),
        Map.empty)
      .filter(!col("paused"))
      .select(col("key").cast(LongType).as("pipeline"),
        col("text").cast(LongType).as("event_id"),
        expr("ts div 4").cast(LongType).as("replay_ts"),
        col("value"))
      .orderBy(col("pipeline"), col("replay_ts"), col("event_id"))
  }

  private val e49Sql =
    s"""WITH e AS (SELECT user_id % 2 AS pipeline, event_id,
       |    epoch_ms(ts) AS ts_ms, value, event_type FROM events),
       |plays AS (SELECT pipeline, event_id, ts_ms, 2 AS kind,
       |    NULL::DOUBLE AS value, sig, (sig > 0.5 AND prev <= 0.5) AS edge
       |  FROM (
       |    SELECT pipeline, event_id, ts_ms, sig,
       |      COALESCE(lag(sig) OVER (PARTITION BY pipeline
       |        ORDER BY ts_ms, event_id), 0.0) AS prev
       |    FROM (SELECT pipeline, event_id, ts_ms,
       |            CASE WHEN value > 15 THEN 1.0 ELSE 0.0 END AS sig
       |          FROM e WHERE event_type = 'error'))),
       |clears AS (SELECT pipeline, event_id, ts_ms, 0 AS kind,
       |    NULL::DOUBLE AS value, NULL::DOUBLE AS sig, NULL::BOOLEAN AS edge
       |  FROM e WHERE event_type = 'purchase'),
       |data AS (SELECT pipeline, event_id, ts_ms, 1 AS kind, value,
       |    NULL::DOUBLE AS sig, NULL::BOOLEAN AS edge
       |  FROM e WHERE event_type = 'click'),
       |tagged AS (SELECT *,
       |    sum(CASE WHEN kind = 0 THEN 1 ELSE 0 END) OVER w AS win,
       |    sum(CASE WHEN kind = 2 AND sig <= 0.5 THEN 1 ELSE 0 END)
       |      OVER w AS epi,
       |    COALESCE(last_value(CASE WHEN kind = 2 THEN sig END IGNORE NULLS)
       |      OVER w, 0.0) > 0.5 AS playing
       |  FROM (SELECT * FROM clears UNION ALL
       |        SELECT * FROM plays UNION ALL
       |        SELECT * FROM data)
       |  WINDOW w AS (PARTITION BY pipeline ORDER BY ts_ms, kind, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |dr AS (SELECT pipeline, win, epi, event_id, ts_ms, value, playing
       |       FROM tagged WHERE kind = 1),
       |firsts AS (SELECT pipeline, win, min(ts_ms) AS w_first
       |           FROM dr GROUP BY pipeline, win),
       |edge_trig AS (SELECT t.pipeline, t.win, t.epi, 0 AS tpri,
       |    t.ts_ms AS t_ts, 9223372036854775807 AS t_id, t.ts_ms AS anchor
       |  FROM tagged t JOIN firsts f
       |    ON f.pipeline = t.pipeline AND f.win = t.win
       |  WHERE t.kind = 2 AND t.edge AND f.w_first <= t.ts_ms),
       |data_trig AS (SELECT pipeline, win, epi, 1 AS tpri, ts_ms AS t_ts,
       |    event_id AS t_id, ts_ms AS anchor
       |  FROM (SELECT *, row_number() OVER (PARTITION BY pipeline, win, epi
       |          ORDER BY ts_ms, event_id) AS rn
       |        FROM dr WHERE playing)
       |  WHERE rn = 1),
       |trig AS (SELECT pipeline, win, tpri, t_ts, t_id, anchor
       |  FROM (SELECT *, row_number() OVER (PARTITION BY pipeline, win, epi
       |          ORDER BY tpri) AS rn
       |        FROM (SELECT * FROM edge_trig UNION ALL
       |              SELECT * FROM data_trig))
       |  WHERE rn = 1)
       |SELECT dr.pipeline, dr.event_id,
       |  CAST(trig.anchor + dr.ts_ms - f.w_first AS BIGINT) AS replay_ts,
       |  dr.value
       |FROM dr
       |JOIN trig ON trig.pipeline = dr.pipeline AND trig.win = dr.win
       |  AND (dr.ts_ms < trig.t_ts OR (dr.ts_ms = trig.t_ts
       |       AND (trig.tpri = 0 OR dr.event_id <= trig.t_id)))
       |JOIN firsts f ON f.pipeline = dr.pipeline AND f.win = dr.win
       |ORDER BY dr.pipeline, replay_ts, dr.event_id""".stripMargin

  /** e50: the MEDIA machine family through the streaming mount — the
    * c10 deployment's scaler → meter chain (audiovolumescaler.py +
    * audiovolumemeter.py) compiled by the Pipeline DSL's STREAMING
    * branch into ONE query of chained flatMapGroupsWithState (c09's
    * shape, now for the media ops): the scaler's last-scale state and
    * the meter's AudioChunker (count, Σ|x|) state both cross 2
    * micro-batch boundaries. Chunk ranges respect the fold's FULL
    * order — (ts, control-first priority, seq) — so a scale event
    * sharing a data row's timestamp can't land in a later batch than
    * the data it must precede. Hash-gated against the batch
    * formulation (the same closed-form oracle family as c10, minus
    * the WAV container leg — that is c10's batch story). */
  private def e50(s: SparkSession, d: String): DataFrame = {
    import graft.plans.Pipeline
    import graft.plans.Pipeline._
    val e = Tables.eventsMs(s, d)
    val wI = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts_ms"), col("event_id"))
    val data = e.filter(col("event_type") === "click")
      .select(col("ts_ms"), col("event_id"),
        least(greatest(round(col("value") * 100).cast(LongType),
          lit(-32768L)), lit(32767L)).as("x"))
      .withColumn("i", (row_number().over(wI) - 1).cast(LongType))
      .select(lit("0").as("key"), lit(0).as("topic"), col("i").as("ts"),
        col("x").cast(DoubleType).as("value"),
        lit(null).cast(StringType).as("text"), lit(false).as("paused"),
        col("i").as("seq"))
    // one fixture-build bound check (the g05 roundSizes pattern): the
    // scale clock needs the click count; throughStream materializes
    // the fixture to chunk files right after, so this is not a
    // per-batch action
    val nData = e.filter(col("event_type") === "click").count()
    val scales = e.filter(col("event_type") === "error")
      .select(lit("0").as("key"), lit(1).as("topic"),
        (col("event_id") % nData).as("ts"),
        when(col("value") > 10, 2.0).otherwise(0.5).as("value"),
        lit(null).cast(StringType).as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val dep = Deployment("e50", Seq(
      TaskSpec("audio", SourceOp(IOMeta.audio), Nil, "pcm"),
      TaskSpec("gain", SourceOp(IOMeta.number), Nil, "scale"),
      TaskSpec("scaler", AudioVolumeScalerOp(1.0), Seq("pcm", "scale"),
        "scaled"),
      TaskSpec("meter", AudioVolumeMeterOp(1000, 125), Seq("scaled"),
        "volume")))
    val mount = (ds: Dataset[KEv]) => {
      val df = ds.toDF()
      def env(t: Int) = df.filter(col("topic") === t)
        .select(col("ts"), col("value"), col("text"), col("paused"),
          col("seq"))
      val streams = Pipeline.compile(dep,
        Map("pcm" -> env(0), "scale" -> env(1)))
      streams("volume")
        .select(lit("vol").as("key"), col("ts"), col("value"), col("text"),
          col("paused"))
        .unionByName(streams("scaled")
          .select(lit("scaled").as("key"), col("ts"), col("value"),
            col("text"), col("paused")))
        .as[KOut](StatefulRunner.koutEnc)
    }
    val outs = throughStream(s, data.unionByName(scales),
      // full fold order incl. the scale-before-data tie-break, so
      // equal-ts pairs never straddle a micro-batch bound
      Seq(col("ts"), when(col("topic") === 1, 0).otherwise(1), col("seq")),
      s"e50@$d", mount, Map.empty)
      .filter(!col("paused"))
    val vol = outs.filter(col("key") === "vol")
      .select(lit("vol").as("kind"), col("ts").as("ts_ms"), col("value"),
        lit(125L).as("n"))
    val scaled = outs.filter(col("key") === "scaled")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value"))
      .select(lit("scaled").as("kind"), lit(0L).as("ts_ms"), col("value"),
        col("n"))
    vol.unionByName(scaled).orderBy(col("kind"), col("ts_ms"))
  }

  private val e50Sql =
    s"""WITH s AS (SELECT
       |    least(greatest(CAST(round(value * 100) AS BIGINT), -32768),
       |          32767) AS x,
       |    epoch_ms(ts) AS tms, event_id
       |  FROM events WHERE event_type = 'click'),
       |idx AS (SELECT x,
       |    row_number() OVER (ORDER BY tms, event_id) - 1 AS i FROM s),
       |n AS (SELECT count(*) AS nc FROM idx),
       |sc AS (SELECT e.event_id % n.nc AS ts,
       |    CASE WHEN e.value > 10 THEN 2.0 ELSE 0.5 END AS sv, e.event_id
       |  FROM events e, n WHERE e.event_type = 'error'),
       |u AS (SELECT i AS ts, 0 AS is_scale, i AS seq,
       |             CAST(x AS DOUBLE) AS x, NULL::DOUBLE AS sv FROM idx
       |      UNION ALL
       |      SELECT ts, 1, event_id, NULL, sv FROM sc),
       |f AS (SELECT *, coalesce(last_value(sv IGNORE NULLS) OVER (
       |        ORDER BY ts, is_scale DESC, seq
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) AS eff
       |      FROM u),
       |y AS (SELECT ts AS i,
       |        CAST(trunc(least(greatest(x * eff, -32768.0), 32767.0)) AS BIGINT) AS y
       |      FROM f WHERE is_scale = 0),
       |vol AS (SELECT (y.i // 125) * 125 AS ts_ms,
       |        sqrt(CAST(sum(abs(y.y)) AS DOUBLE) / 32767.0 / 125.0) AS value
       |      FROM y, n
       |      WHERE (y.i // 125) * 125 + 125 <= n.nc - 1
       |      GROUP BY y.i // 125)
       |SELECT kind, ts_ms, value, n FROM (
       |  SELECT 'vol' AS kind, ts_ms, value, 125::BIGINT AS n FROM vol
       |  UNION ALL
       |  SELECT 'scaled', 0, CAST(sum(y) AS DOUBLE), count(*) FROM y)
       |ORDER BY kind, ts_ms""".stripMargin

  val all: Seq[Q] = Seq(
    Q("e24_streaming_gate", e24, Some(EventOps.e05Sql)),
    Q("e25_timesync_restamp", e25, Some(e25Sql)),
    Q("e26_tws_rocksdb_gate", e26, Some(EventOps.e05Sql)),
    Q("e27_streaming_synchronizer", e27, Some(EventOps.e13Sql)),
    Q("e28_streaming_switch", e28, Some(EventOps.e06Sql)),
    Q("e30_tws_rocksdb_synchronizer", e30, Some(EventOps.e13Sql)),
    Q("e31_streaming_srlatch", e31, Some(EventOps.e08Sql)),
    Q("e32_streaming_formatter", e32, Some(EventOps.e09Sql)),
    Q("e33_streaming_concat", e33, Some(EventOps.e10Sql)),
    Q("e34_streaming_detector", e34, Some(EventOps.e11Sql)),
    Q("e35_streaming_timebuffer", e35, Some(EventOps.e12Sql)),
    Q("e36_streaming_mediaswitch", e36, Some(EventOps.e07Sql)),
    Q("e37_streaming_calculator", e37, Some(CalcQueries.c02Sql)),
    Q("e38_streaming_repeater", e38, Some(EventOps.e15Sql)),
    Q("e39_streaming_container", e39, Some(ContainerQueries.e21Sql)),
    Q("e40_streaming_chat", e40, Some(e40Sql)),
    Q("e41_wallclock_repeater", e41, Some(e41Sql)),
    Q("e42_streaming_sessionize", e42, Some(e42Sql)),
    Q("e43_stream_stream_join", e43, Some(e43Sql)),
    Q("e44_streaming_dedup", e44, Some(e44Sql)),
    Q("e45_streaming_fntask", e45, Some(e45Sql)),
    Q("e46_stream_join_agg", e46, Some(e46Sql)),
    Q("e47_stream_static_dim", e47, Some(e47Sql)),
    Q("e48_stream_left_outer", e48, Some(e48Sql)),
    Q("e49_streaming_replay", e49, Some(e49Sql)),
    Q("e50_streaming_media", e50, Some(e50Sql)),
  )
}
