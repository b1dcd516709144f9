package graft

import graft.streaming.{StateMachines, StatefulRunner}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-throughput curve: the SAME `runStreaming` mount the
  * parity queries drive (graft.operators.StreamParityQueries
  * .throughStream on [[graft.streaming.StreamRun]]: staged file source
  * → flatMapGroupsWithState → drained file sink), at
  * pipeline counts ×{1,10,100} — the scaling axis SCALE.md's "a
  * million concurrent gates spread across the cluster" claim lives
  * on. Each replica re-keys the whole events fixture onto fresh
  * pipeline ids, so rows AND independent state machines both grow
  * 10× per decade while per-key work stays constant; the measured
  * question is whether per-row cost stays flat as the key count
  * multiplies (state machines don't interact) and whether added
  * pipelines unlock parallelism (2 gates can't fill 32 cores; 200
  * can).
  *
  * State width follows key cardinality up to the core count —
  * min(cpus, pipelines) — the per-stream production knob the parity
  * mounts document. The fixture build (chunk-file write) happens on
  * an UNMEASURED warm pass via the mount's fixture cache; the
  * measured pass re-runs the full stream (fresh session, checkpoint,
  * sink) over the existing files, so the number is the stream, not
  * the staging write.
  *
  * Usage: runMain graft.StreamCurve [sfDir]   (default sf0.1)
  * Prints one JSON line; human table to stderr. Results land in
  * SCALE.md "Streaming".
  */
object StreamCurve {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build()

    /** e24's gate fixture re-keyed onto 2·reps pipelines. */
    def gateFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      e.filter(col("event_type").isin("click", "error"))
        .crossJoin(broadcast(r))
        .select(
          (pmod(col("user_id"), lit(2)) + col("rep") * 2)
            .cast("string").as("key"),
          when(col("event_type") === "click", 0).otherwise(1).as("topic"),
          col("ts_ms").as("ts"),
          when(col("event_type") === "click", col("value"))
            .otherwise(when(col("value") > 10, 1.0).otherwise(0.0))
            .as("value"),
          lit(null).cast("string").as("text"),
          lit(false).as("paused"),
          col("event_id").as("seq"))
    }

    /** e37's calculator fixture (two variable topics, hold-last and
      * re-evaluate per arrival) re-keyed onto 2·reps pipelines. */
    def calcFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      e.filter(col("event_type").isin("click", "view"))
        .crossJoin(broadcast(r))
        .select(
          (pmod(col("user_id"), lit(2)) + col("rep") * 2)
            .cast("string").as("key"),
          when(col("event_type") === "click", 0).otherwise(1).as("topic"),
          col("ts_ms").as("ts"), col("value"),
          lit(null).cast("string").as("text"),
          lit(false).as("paused"),
          col("event_id").as("seq"))
    }

    /** e27's synchronizer fixture (all five topics, arrival-order
      * fold, the dict watermark machine) re-keyed onto reps
      * pipelines; no flush sentinels — throughput, not the oracle. */
    def syncFixture(reps: Int): DataFrame = {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      val topic = (array_position(lit(types.toArray), col("event_type")) - 1)
        .cast("int")
      e.crossJoin(broadcast(r))
        .select(col("rep").cast("string").as("key"), topic.as("topic"),
          col("ts_ms").as("ts"), topic.cast("double").as("value"),
          col("event_id").cast("string").as("text"),
          lit(false).as("paused"),
          (shiftleft(col("user_id").cast("long"), 20) + col("event_id"))
            .as("seq"))
    }

    /** All events re-keyed onto users·reps session streams — the
      * e42 shape: state is the set of OPEN session windows per key,
      * growing with key count, merged by the session-window state
      * store. No flush sentinels — throughput, not the oracle (the
      * merge work happens whether or not windows emit). */
    def sessFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      e.crossJoin(broadcast(r))
        .select((col("user_id") + col("rep") * 100000).cast("string").as("key"),
          lit(0).as("topic"), col("ts_ms").as("ts"), lit(0.0).as("value"),
          lit(null).cast("string").as("text"), lit(false).as("paused"),
          (shiftleft(col("rep"), 40) + col("event_id")).as("seq"))
    }

    /** e43's click/purchase fixture re-keyed onto users·reps join
      * keys: join state (both sides buffered until watermark-evicted)
      * grows with the key count while per-key match work stays
      * constant — the axis an attribution join scales on. rep-unique
      * event ids keep output pairs distinct. */
    def joinFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      e.filter(col("event_type").isin("click", "purchase"))
        .crossJoin(broadcast(r))
        .select((col("user_id") + col("rep") * 100000).cast("string").as("key"),
          when(col("event_type") === "click", 0).otherwise(1).as("topic"),
          col("ts_ms").as("ts"), col("value"),
          (col("event_id") + col("rep") * 1000000000L).cast("string").as("text"),
          lit(false).as("paused"),
          (shiftleft(col("rep"), 40) + col("event_id")).as("seq"))
    }

    /** e44's at-least-once fixture re-keyed onto users·reps dedup
      * keys: every even-id view redelivered once (topic 1), so the
      * dedup state store holds one entry per distinct (key, id) and
      * the replay half probes it — state AND probe volume grow
      * together. */
    def dedupFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      val base = e.filter(col("event_type") === "view")
        .crossJoin(broadcast(r))
        .select((col("user_id") + col("rep") * 100000).cast("string").as("key"),
          col("ts_ms").as("ts"), col("value"),
          (col("event_id") + col("rep") * 1000000000L).cast("string").as("text"),
          lit(false).as("paused"),
          (shiftleft(col("rep"), 40) + col("event_id")).as("seq"))
      base.withColumn("topic", lit(0))
        .unionByName(base.filter(col("seq") % 2 === 0)
          .withColumn("topic", lit(1)))
        .select(col("key"), col("topic"), col("ts"), col("value"),
          col("text"), col("paused"), col("seq"))
    }

    /** e47's stream-static class at curve scale: purchases re-keyed
      * onto `reps` replicas of the user population, joined per
      * micro-batch against a broadcast dimension that GROWS with the
      * key space (nUsers·reps rows — the dim scales with the entity
      * catalog, the realistic axis). The measured question: does the
      * per-batch broadcast + hash-probe cost stay a fixed floor while
      * rows ×100 (it should — the probe is per-row O(1), the broadcast
      * per-batch O(|dim|)). */
    lazy val nUsers: Long = {
      val r = Tables.eventsMs(spark, sfDir)
        .agg(countDistinct(col("user_id")), max(col("user_id"))).head()
      val (n, mx) = (r.getLong(0), r.getAs[Number](1).longValue)
      // dim_join derives replica keys as user_id + rep*nUsers joined
      // against range(0, nUsers*reps) — that arithmetic needs user_id
      // dense in [0, nUsers); a sparse fixture would silently drop
      // rows from the inner join and skew the measured curve.
      require(mx == n - 1,
        s"dim_join key arithmetic needs user_id dense in [0, $n), " +
          s"but max(user_id) = $mx — fix the fixture or re-key")
      n
    }

    def dimFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      e.filter(col("event_type") === "purchase")
        .crossJoin(broadcast(r))
        .select((col("user_id") + col("rep") * nUsers).cast("string").as("key"),
          lit(0).as("topic"), col("ts_ms").as("ts"), col("value"),
          col("event_id").cast("string").as("text"),
          lit(false).as("paused"),
          (col("event_id") * reps + col("rep")).as("seq"))
    }

    /** e49's replay-buffer fixture re-keyed onto 2·reps pipelines:
      * the data topic buffers clicks (cleared at purchase
      * pause+unpause pairs), the play topic opens episodes, and each
      * episode replays once — including the round-10 faithful
      * update_playing_state trigger (replay on the arrival that fills
      * the buffer). State = the recording vectors themselves, the
      * largest per-key state in the machine family, so this curve is
      * the buffer-heavy end of the state-store story. */
    def replayFixture(reps: Int): DataFrame = {
      val e = Tables.eventsMs(spark, sfDir)
      val r = spark.range(0, reps).select(col("id").as("rep"))
      val data = e.filter(col("event_type") === "click")
        .select(pmod(col("user_id"), lit(2)).as("k0"), lit(0).as("topic"),
          (col("ts_ms") * 4 + 1).as("ts"), col("value"),
          col("event_id").cast("string").as("text"),
          lit(false).as("paused"), (col("event_id") * 2).as("seq"))
      val clears = e.filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(2)).as("k0"), lit(0).as("topic"),
          (col("ts_ms") * 4).as("ts"),
          explode(array(lit(1.0), lit(0.0))).as("value"),
          lit(null).cast("string").as("text"), lit(true).as("paused"),
          col("event_id"))
        .select(col("k0"), col("topic"), col("ts"), col("value"),
          col("text"), col("paused"),
          (col("event_id") * 2 +
            when(col("value") === 0.0, 1).otherwise(0)).as("seq"))
      val plays = e.filter(col("event_type") === "error")
        .select(pmod(col("user_id"), lit(2)).as("k0"), lit(1).as("topic"),
          (col("ts_ms") * 4 + 2).as("ts"),
          when(col("value") > 15, 1.0).otherwise(0.0).as("value"),
          lit(null).cast("string").as("text"), lit(false).as("paused"),
          (col("event_id") * 2).as("seq"))
      data.unionByName(clears).unionByName(plays)
        .crossJoin(broadcast(r))
        .select((col("k0") + col("rep") * 2).cast("string").as("key"),
          col("topic"), col("ts"), col("value"), col("text"),
          col("paused"), col("seq"))
    }

    def run(machine: String, reps: Int): (Long, Long, Double) = {
      import StatefulRunner.{KEv, KOut}
      val (fixture, order, pipes,
          mount: (org.apache.spark.sql.Dataset[KEv] =>
            org.apache.spark.sql.Dataset[KOut])) = machine match {
        case "gate" => (gateFixture(reps),
          Seq(col("ts"), when(col("topic") === 1, 0).otherwise(1),
            col("seq")),
          2L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            StatefulRunner.runStreaming(
              new StateMachines.Gate(failOpen = false), ds))
        case "calculator" => (calcFixture(reps),
          Seq(col("ts"), col("seq")), 2L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            StatefulRunner.runStreaming(
              new StateMachines.Calculator(Map(0 -> 0.0, 1 -> 0.0),
                v => (v(0) + v(1)) / 2), ds))
        case "synchronizer" => (syncFixture(reps),
          Seq(col("seq")), reps.toLong,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            StatefulRunner.runStreaming(
              new StateMachines.Synchronizer(5), ds))
        case "stream_join" => (joinFixture(reps),
          Seq(col("ts"), col("seq")), 150L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            graft.operators.StreamParityQueries.joinMount(ds))
        // e48's class: same two-sided buffer as stream_join, plus the
        // eviction-emission path — every unmatched click is tracked to
        // its watermark-proved flush, so the state-store write volume
        // is strictly higher than the inner join's. The curve question:
        // does the null-flush tail stay amortized into the same
        // per-batch floor as the key count multiplies? Sentinel tails
        // are unnecessary for throughput (unflushed tail state is
        // simply never read — the work measured is ingest + eviction
        // up to the final watermark).
        case "left_outer" => (joinFixture(reps),
          Seq(col("ts"), col("seq")), 150L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            graft.operators.StreamParityQueries.leftOuterJoinMount(ds))
        case "dedup" => (dedupFixture(reps),
          Seq(col("topic"), col("ts"), col("seq")), 150L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            graft.operators.StreamParityQueries.dedupMount(ds))
        case "dim_join" => (dimFixture(reps),
          Seq(col("ts"), col("seq")), nUsers * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) => {
            val dim = broadcast(ds.sparkSession
              .range(0, nUsers * reps)
              .select(col("id").cast("string").as("k"),
                concat(lit("S"), pmod(col("id"), lit(7))).as("seg")))
            ds.toDF().join(dim, col("key") === col("k"))
              .select(col("key"), col("ts"), col("value"),
                concat_ws(":", col("text"), col("seg")).as("text"),
                lit(false).as("paused"))
              .as[KOut](org.apache.spark.sql.Encoders.product[KOut])
          })
        case "replay" => (replayFixture(reps),
          Seq(col("ts"), col("seq")), 2L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            StatefulRunner.runStreaming(new StateMachines.ReplayBuffer, ds))
        case "session_window" => (sessFixture(reps),
          Seq(col("ts"), col("seq")), 1500L * reps,
          (ds: org.apache.spark.sql.Dataset[KEv]) =>
            ds.select(col("key"), col("ts"),
                timestamp_millis(col("ts")).as("tsc"))
              .withWatermark("tsc", "0 seconds")
              .groupBy(col("key"),
                session_window(col("tsc"), "1800000 milliseconds"))
              .agg(min(col("ts")).as("ts"),
                count(lit(1)).cast("double").as("value"))
              .select(col("key"), col("ts"), col("value"),
                lit(null).cast("string").as("text"),
                lit(false).as("paused"))
              .as[KOut](org.apache.spark.sql.Encoders.product[KOut]))
      }
      val width = math.min(GraftSession.cpus, math.max(4, pipes)).toString
      val conf = Map("spark.sql.shuffle.partitions" -> width)
      val tag = s"curve-$machine-$reps@$sfDir"
      val rows = fixture.count()
      // warm pass: builds the chunk files (cached) + JITs the path
      graft.operators.StreamParityQueries
        .throughStream(spark, fixture, order, tag, mount, conf)
        .write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      graft.operators.StreamParityQueries
        .throughStream(spark, fixture, order, tag, mount, conf)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (pipes, rows, sec)
    }

    val repsScale = Seq(1, 10, 100)
    // optional 2nd arg: comma-separated machine filter (local iteration)
    val machines = args.drop(1).headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("gate", "synchronizer", "calculator", "session_window",
        "stream_join", "left_outer", "dedup", "dim_join", "replay"))
    val rows = for {
      m <- machines
      reps <- repsScale
    } yield {
      val (pipes, n, sec) = run(m, reps)
      val rps = n / sec
      System.err.println(f"$m%-13s reps=$reps%3d pipelines=$pipes%4d " +
        f"rows=$n%9d sec=$sec%7.2f rows/s=${rps / 1e6}%.2fM")
      (m, reps, pipes, n, sec, rps)
    }
    val json = rows.map { case (m, reps, pipes, n, sec, rps) =>
      s"""{"machine":"$m","reps":$reps,"pipelines":$pipes,""" +
        s""""rows":$n,"sec":${f"$sec%.3f"},"rows_per_sec":${f"$rps%.0f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"sf":"$sfDir","curve":$json}""")
    GraftSession.close(spark)
  }
}
