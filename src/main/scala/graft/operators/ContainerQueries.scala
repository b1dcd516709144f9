package graft.operators

import graft.Q
import graft.Tables.eventsMs
import graft.functions.Vp8
import graft.streaming.StatefulRunner
import graft.streaming.StateMachines._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Media-container operators (SURVEY §2.2 #29/#30) — the mux-sink
  * bounded-desync synchronizer and (see InputPacer) the demux-source
  * timing, exercised as driver-verifiable queries over the events
  * table.
  *
  * e21 runs the [[OutputContainerSync]] machine through
  * [[StatefulRunner.runBatch]] — `flatMapGroups` keyed by pipeline, the
  * distributed shape: one container instance per key, millions of keys
  * spread over executors, state O(queued packets) per key. The DuckDB
  * oracle is an independent implementation of the same deterministic
  * action system as a recursive CTE, so the driver hash-checks the full
  * emit/drop/dts trace, not just row counts.
  */
object ContainerQueries {

  import KernelGroups.{clickChunks, pcmClicks, sortedKernel, trackEvents,
    viewContainers}

  /** The oracle head of the view-sized kernels: `cnt`, one row per
    * container with n = least(cap, its views), over the containers with
    * at least two views (`pairs`) or over all of them. */
  private def viewCnt(cap: Int, pairs: Boolean = true): String =
    s"""WITH cnt AS (SELECT user_id % 32 AS container,
       |    least($cap, count(*)) AS n
       |  FROM events WHERE event_type = 'view'""".stripMargin +
      (if (pairs) "\n  GROUP BY 1 HAVING count(*) >= 2)," else " GROUP BY 1),")

  /** The oracle head of the two-track muxing kernels: `e`, every view
    * (track 1) and click (track 2) keyed by container, and `k`, each
    * event's 0-based index `i` in its container's track, in
    * (tms, event_id) order. */
  private val trackIdx =
    """WITH e AS (SELECT user_id % 32 AS container,
      |    CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS track,
      |    event_id, epoch_ms(ts) AS tms
      |  FROM events WHERE event_type IN ('view','click')),
      |k AS (SELECT container, track, event_id,
      |        row_number() OVER (PARTITION BY container, track
      |                           ORDER BY tms, event_id) - 1 AS i
      |      FROM e),""".stripMargin

  /** Two streams per pipeline: clicks as an audio-like stream
    * (time_base 1/32000 s, 1024-sample frames → 32 ms quantum), views
    * as a video-like stream (time_base 1/30 s, 1-frame advance →
    * 33.33 ms quantum). Event times are compressed 16384× so inter-
    * packet gaps land near the stream quanta and the blocking + drop
    * dynamics of outputcontainer.py:82-92 actually fire; max_desync =
    * 48 ms in the compressed timeline. The `user_id % 5` slice keeps
    * the oracle's recursive simulation ~1.5k iterations. */
  /** The e21 fixture, shared with the streaming mount (e39 in
    * StreamParityQueries): the compressed-timeline two-stream kev
    * rows and the container machine they drive. */
  private[operators] def e21Fixture(s: SparkSession, d: String)
      : (org.apache.spark.sql.Dataset[StatefulRunner.KEv], OutputContainerSync) = {
    val e = eventsMs(s, d)
      .filter(col("event_type").isin("click", "view") &&
        col("user_id") % 5 === 0)
      .select((col("user_id") % 2).as("p"),
        when(col("event_type") === "click", 0).otherwise(1).as("topic"),
        col("ts_ms"), col("value"), col("event_id"))
    val mn = e.agg(min(col("ts_ms")).as("mn"))
    val kev = e.crossJoin(broadcast(mn)) // 1-row bound for the time offset
      .select(col("p").cast(StringType).as("key"), col("topic"),
        shiftright(col("ts_ms") - col("mn"), 14).as("ts"),
        col("value"), lit(null).cast(StringType).as("text"),
        lit(false).as("paused"), col("event_id").as("seq"))
      .as[StatefulRunner.KEv](StatefulRunner.kevEnc)
    val machine = new OutputContainerSync(Map(
      0 -> OcStreamCfg(1, 32000, 1024, "audio"),
      1 -> OcStreamCfg(1, 30, 1, "video")), maxDesync = 48)
    (kev, machine)
  }

  /** Shared output projection for the container trace (e21/e39). */
  private[operators] def containerTrace(
      outs: org.apache.spark.sql.Dataset[StatefulRunner.KOut]): DataFrame =
    outs.toDF()
      .select(col("key").cast(LongType).as("pipeline"),
        col("text").as("topic"), col("ts"),
        col("value").cast(LongType).as("dts"))
      .orderBy(col("pipeline"), col("ts"), col("topic"), col("dts"))

  private def e21(s: SparkSession, d: String): DataFrame = {
    val (kev, machine) = e21Fixture(s, d)
    containerTrace(StatefulRunner.runBatch(machine, kev))
  }

  /** Independent DuckDB implementation of the same action system as a
    * recursive CTE: one frontier row per pipeline; per step the first
    * applicable action fires — register head (discard if late), startup
    * barrier, emit (A then V), drop (A then V), next arrival — exactly
    * [[OutputContainerSync]]'s drain order. Durations compare in 1/96000 s
    * units (lcm of the two time bases): audio dur = cA*3, video = cV*3200;
    * quantization: audio floor((t-t0)*32000/1000) = (t-t0)*32, video
    * floor((t-t0)*30/1000) = ((t-t0)*3)//100. The paused-stream drag
    * (outputcontainer.py:94-96) is a no-op here — no pause markers in
    * the batch input — and is exercised in ContainerSpec instead. */
  private[operators] val e21Sql =
    """WITH RECURSIVE
      |pk AS (SELECT user_id % 2 AS p,
      |         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tp,
      |         epoch_ms(ts) AS tms, event_id AS seq
      |       FROM events
      |       WHERE event_type IN ('click','view') AND user_id % 5 = 0),
      |base AS (SELECT p, tp,
      |         (tms - (SELECT min(tms) FROM pk)) // 16384 AS t, seq FROM pk),
      |lists AS (SELECT p,
      |    list(t ORDER BY t, seq) FILTER (WHERE tp = 0) AS ta,
      |    list(t ORDER BY t, seq) FILTER (WHERE tp = 1) AS tv,
      |    list(tp ORDER BY t, tp, seq) AS garr
      |  FROM base GROUP BY p),
      |sim AS (
      |  SELECT p,
      |    CAST(0 AS BIGINT) AS arrA, CAST(0 AS BIGINT) AS arrV,
      |    CAST(0 AS BIGINT) AS popA, CAST(0 AS BIGINT) AS popV,
      |    false AS hrA, false AS hrV, false AS rgA, false AS rgV,
      |    CAST(0 AS BIGINT) AS tsA, CAST(0 AS BIGINT) AS tsV,
      |    CAST(0 AS BIGINT) AS cA, CAST(0 AS BIGINT) AS cV,
      |    false AS st, CAST(0 AS BIGINT) AS t0,
      |    NULL::VARCHAR AS etp, NULL::BIGINT AS ets, NULL::BIGINT AS edts
      |  FROM lists
      |  UNION ALL
      |  SELECT p,
      |    arrA + CASE WHEN a = 'ar' AND nxt = 0 THEN 1 ELSE 0 END,
      |    arrV + CASE WHEN a = 'ar' AND nxt = 1 THEN 1 ELSE 0 END,
      |    popA + CASE WHEN a IN ('dA','eA','xA') THEN 1 ELSE 0 END,
      |    popV + CASE WHEN a IN ('dV','eV','xV') THEN 1 ELSE 0 END,
      |    CASE WHEN a = 'rA' THEN true WHEN a IN ('eA','xA') THEN false ELSE hrA END,
      |    CASE WHEN a = 'rV' THEN true WHEN a IN ('eV','xV') THEN false ELSE hrV END,
      |    CASE WHEN a = 'rA' THEN true ELSE rgA END,
      |    CASE WHEN a = 'rV' THEN true ELSE rgV END,
      |    CASE WHEN a = 'rA' THEN hA ELSE tsA END,
      |    CASE WHEN a = 'rV' THEN hV ELSE tsV END,
      |    CASE WHEN a = 'rA' AND st THEN greatest(cA, (hA - t0) * 32)
      |         WHEN a = 'st' THEN greatest(cA, (tsA - least(tsA, tsV)) * 32)
      |         WHEN a = 'eA' THEN cA + 1024
      |         ELSE cA END,
      |    CASE WHEN a = 'rV' AND st THEN greatest(cV, ((hV - t0) * 3) // 100)
      |         WHEN a = 'st' THEN greatest(cV, ((tsV - least(tsA, tsV)) * 3) // 100)
      |         WHEN a = 'eV' THEN cV + 1
      |         ELSE cV END,
      |    CASE WHEN a = 'st' THEN true ELSE st END,
      |    CASE WHEN a = 'st' THEN least(tsA, tsV) ELSE t0 END,
      |    CASE WHEN a = 'eA' THEN 'audio' WHEN a = 'eV' THEN 'video' END,
      |    CASE WHEN a = 'eA' THEN tsA WHEN a = 'eV' THEN tsV END,
      |    CASE WHEN a = 'eA' THEN cA WHEN a = 'eV' THEN cV END
      |  FROM (
      |    SELECT s3.*,
      |      CASE
      |        WHEN hA IS NOT NULL AND NOT hrA THEN
      |          CASE WHEN rgA AND hA < tsA THEN 'dA' ELSE 'rA' END
      |        WHEN hV IS NOT NULL AND NOT hrV THEN
      |          CASE WHEN rgV AND hV < tsV THEN 'dV' ELSE 'rV' END
      |        WHEN NOT st AND hrA AND hrV THEN 'st'
      |        WHEN st AND hrA AND duA = mnD AND tsA - 48 <= mnT THEN 'eA'
      |        WHEN st AND hrV AND duV = mnD AND tsV - 48 <= mnT THEN 'eV'
      |        WHEN st AND hrA AND tsA = mnT AND duA <> mnD AND nmdT - 48 > tsA THEN 'xA'
      |        WHEN st AND hrV AND tsV = mnT AND duV <> mnD AND nmdT - 48 > tsV THEN 'xV'
      |        WHEN arrA + arrV < ng THEN 'ar'
      |      END AS a,
      |      CASE WHEN arrA + arrV < ng THEN garr[arrA + arrV + 1] END AS nxt
      |    FROM (
      |      SELECT s2.*,
      |        CASE WHEN rgA AND duA = mnD THEN
      |               CASE WHEN rgV AND duV = mnD THEN least(tsA, tsV) ELSE tsA END
      |             ELSE tsV END AS nmdT
      |      FROM (
      |        SELECT s1.*,
      |          CASE WHEN rgA AND rgV THEN least(duA, duV)
      |               WHEN rgA THEN duA ELSE duV END AS mnD,
      |          CASE WHEN rgA AND rgV THEN least(tsA, tsV)
      |               WHEN rgA THEN tsA ELSE tsV END AS mnT
      |        FROM (
      |          SELECT s.*, l.ta, l.tv, l.garr, len(l.garr) AS ng,
      |            CASE WHEN popA < arrA THEN l.ta[CAST(popA + 1 AS INT)] END AS hA,
      |            CASE WHEN popV < arrV THEN l.tv[CAST(popV + 1 AS INT)] END AS hV,
      |            cA * 3 AS duA, cV * 3200 AS duV
      |          FROM sim s JOIN lists l USING (p)
      |        ) s1
      |      ) s2
      |    ) s3
      |  ) s4
      |  WHERE a IS NOT NULL
      |)
      |SELECT p AS pipeline, etp AS topic, ets AS ts, edts AS dts
      |FROM sim WHERE etp IS NOT NULL
      |ORDER BY pipeline, ts, topic, dts""".stripMargin

  /** Input-container demux restamping (SURVEY §2.2 #29;
    * inputcontainer.py:63-83): clicks model an audio stream (dts in
    * 1/32000 s samples advancing 1024/packet), views a video stream
    * (dts in 1/30 s frames advancing 1/packet); each packet's
    * stream-local dts converts to a container-relative offset and onto
    * the anchored shared timeline `t0 + offset`. Pure window math via
    * [[graft.sources.InputPacer.restamp]]; the real-time paced source
    * built on the same computation is PacerSpec territory (wall-clock
    * pacing is not SQL-expressible). */
  private def m04(s: SparkSession, d: String): DataFrame = {
    val kw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("container"), col("stream"))
      .orderBy(col("ts_ms"), col("event_id"))
    val packets = eventsMs(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select((col("user_id") % 2).as("container"),
        when(col("event_type") === "click", "audio").otherwise("video")
          .as("stream"),
        col("ts_ms"), col("event_id"))
      .withColumn("i", row_number().over(kw).cast(LongType) - 1)
      .select(col("container"), col("stream"),
        when(col("stream") === "audio", col("i") * 1024).otherwise(col("i"))
          .as("dts"),
        lit(1L).as("tb_num"),
        when(col("stream") === "audio", 32000L).otherwise(30L).as("tb_den"))
    graft.sources.InputPacer.restamp(packets, 1704067200000L)
      .select(col("container"), col("stream"), col("dts"), col("offset_ms"),
        col("ts"))
      .orderBy(col("container"), col("stream"), col("dts"))
  }

  private val m04Sql =
    """WITH e AS (SELECT user_id % 2 AS container, event_type,
      |            epoch_ms(ts) AS tms, event_id
      |          FROM events WHERE event_type IN ('click','view')),
      |k AS (SELECT container,
      |        CASE WHEN event_type = 'click' THEN 'audio' ELSE 'video' END AS stream,
      |        CAST(row_number() OVER (PARTITION BY container, event_type
      |                                ORDER BY tms, event_id) - 1 AS BIGINT) AS i
      |      FROM e),
      |pk AS (SELECT container, stream,
      |         CASE WHEN stream = 'audio' THEN i * 1024 ELSE i END AS dts,
      |         CASE WHEN stream = 'audio' THEN (i * 1024 * 1000) // 32000
      |              ELSE (i * 1000) // 30 END AS offset_ms
      |       FROM k)
      |SELECT container, stream, dts, offset_ms,
      |  1704067200000 - min(offset_ms) OVER (PARTITION BY container)
      |    + offset_ms AS ts
      |FROM pk ORDER BY container, stream, dts""".stripMargin

  /** Named output/input (SURVEY §2.1 #18; namedoutput.py:26-37): two
    * producers publish per-pipeline click and purchase stats under
    * two distinct string names; an independent consumer resolves BOTH
    * names from the registry and joins its own view stats against
    * them — a multi-name round-trip, keyed by 64 pipelines so the
    * fixture has non-trivial discriminating rows (the original 2-row
    * user_id%2 version hash-matched on near-constant output). The
    * oracle computes the direct composition — a hash match proves the
    * publish → resolve indirection is exact for each name. */
  private def e23(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = eventsMs(s, d)
    def stats(t: String, pfx: String) = e.filter(col("event_type") === t)
      .groupBy((col("user_id") % 64).as("pipeline"))
      .agg(count(lit(1)).as(s"${pfx}_n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as(s"${pfx}_sum"))
    graft.sources.NamedStreams.publish(stats("click", "click"),
      "named_click_stats")
    graft.sources.NamedStreams.publish(stats("purchase", "buy"),
      "named_purchase_stats")
    val clicks = graft.sources.NamedStreams.resolve(s, "named_click_stats")
    val buys = graft.sources.NamedStreams.resolve(s, "named_purchase_stats")
    stats("view", "view")
      .join(broadcast(clicks), "pipeline")
      .join(broadcast(buys), "pipeline")
      .select(col("pipeline"), col("click_n"), col("click_sum"),
        col("buy_n"), col("buy_sum"), col("view_n"), col("view_sum"))
      .orderBy(col("pipeline"))
  }

  private val e23Sql =
    """WITH ev AS (SELECT user_id % 64 AS pipeline, event_type, value
      |            FROM events),
      |c AS (SELECT pipeline, count(*) AS click_n,
      |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_sum
      |      FROM ev WHERE event_type = 'click' GROUP BY pipeline),
      |b AS (SELECT pipeline, count(*) AS buy_n,
      |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS buy_sum
      |      FROM ev WHERE event_type = 'purchase' GROUP BY pipeline),
      |v AS (SELECT pipeline, count(*) AS view_n,
      |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS view_sum
      |      FROM ev WHERE event_type = 'view' GROUP BY pipeline)
      |SELECT pipeline, click_n, click_sum, buy_n, buy_sum, view_n, view_sum
      |FROM v JOIN c USING (pipeline) JOIN b USING (pipeline)
      |ORDER BY pipeline""".stripMargin

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** The first byte of the md5 of `str`: the kernels' seeded draws. */
  private def hexbyte(str: String): Int =
    Integer.parseInt(md5Hex(str.getBytes("UTF-8")).take(2), 16)

  /** The 2x2 macroblock grid of a 32x32 VP8 fixture frame, raster
    * order: (0,0), (0,1), (1,0), (1,1). */
  private def mbGrid[A](mb: (Int, Int) => A): Vector[A] =
    Vector(mb(0, 0), mb(0, 1), mb(1, 0), mb(1, 1))

  /** `n` VP8 coefficient blocks of zero levels. */
  private def zeroBlocks(n: Int): Array[Array[Int]] =
    Array.fill(n)(new Array[Int](16))

  private def y2Block(dc: Int): Array[Int] = {
    val y2 = new Array[Int](16); y2(0) = dc; y2
  }

  /** The VP8 fixtures' keyframe macroblock: V_PRED luma, DC_PRED
    * chroma, and one coded level, the Y2 DC `dc` (so the macroblock
    * reconstructs flat). */
  private def vp8KeyMb(dc: Int, segment: Int = 0): Vp8.MbCoding =
    Vp8.MbCoding(Vp8.VPred, Vp8.DcPred, y2Block(dc), zeroBlocks(16),
      zeroBlocks(4), zeroBlocks(4), segment = segment)

  /** The VP8 fixtures' inter macroblock: `mvMode`/`mv` against LAST
    * (GOLDEN or ALTREF when flagged) and one coded level, the Y2 DC
    * `dc`. */
  private def vp8InterMb(dc: Int, mvMode: Int = Vp8.ZeroMv,
      mv: Vp8.Mv = Vp8.Mv(0, 0), refGolden: Boolean = false,
      refAltref: Boolean = false, skip: Boolean = false,
      segment: Int = 0): Vp8.InterMb =
    Vp8.InterMb(inter = true, mvMode, mv, 0, 0, y2Block(dc),
      zeroBlocks(16), zeroBlocks(4), zeroBlocks(4), refGolden = refGolden,
      skip = skip, refAltref = refAltref, segment = segment)

  /** Σ of a VP8 stream frame's Y2-DC levels, keyframe or inter. */
  private def y2Levels(f: Vp8.StreamFrame): Long =
    f.coded.fold(_.frame.mbs.iterator.map(_.y2(0).toLong).sum,
      _.frame.mbs.iterator.map(_.y2(0).toLong).sum)

  private def lumaSum(f: Vp8.StreamFrame): Long =
    f.y.iterator.map(_.toLong).sum

  private def chromaSum(f: Vp8.StreamFrame): Long =
    f.u.iterator.map(_.toLong).sum + f.v.iterator.map(_.toLong).sum

  /** Σ luma of display row `r`. */
  private def rowSum(f: Vp8.StreamFrame, r: Int): Long =
    (0 until f.width).map(x => f.y(r * f.width + x).toLong).sum

  /** m16: REAL WAV container round-trip under the oracle. Per
    * container key, click values become PCM16 samples, are muxed into
    * an actual RIFF/WAVE file ([[graft.sources.Wav]]), demuxed back,
    * and the emitted row carries (a) header fields and sample stats
    * read from the DEMUXED file and (b) the md5 of the complete
    * file's lowercase hex. The DuckDB oracle reconstructs the entire
    * WAV byte stream — 44-byte PCM header plus int16-LE data — as a
    * hex string in SQL, so a hash match proves the muxer's byte
    * layout and the demuxer's parse are both exact. Mirrors the
    * reference's container round-trip matrix
    * (tests/media/test_containers.py:20-29) for the one format a JVM
    * can honestly produce without libav.
    *
    * Scale: groupBy key + mapGroups — one container's bytes build on
    * one executor; a billion containers are a billion independent
    * groups. Nothing touches the driver. */
  private def m14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Wav
    sortedKernel(pcmClicks(s, d, 8), "key") { (k, it) =>
      val xs = it.map(_._2).toArray
      val wav = Wav.mux(Wav.WavData(16000, 1, 16, Wav.pcm16(xs)))
      val back = Wav.demux(wav)
      val ss = Wav.samples16(back.data)
      Iterator.single((k, ss.length.toLong, wav.length.toLong,
        back.sampleRate.toLong, back.channels.toLong,
        back.bitsPerSample.toLong,
        ss.foldLeft(0L)(_ + _), ss.min.toLong, ss.max.toLong,
        md5Hex(wav.map("%02x".format(_)).mkString.getBytes("UTF-8"))))
    }.toDF("container", "n_samples", "file_len", "sample_rate",
        "channels", "bits", "sample_sum", "sample_min", "sample_max",
        "wav_md5")
      .orderBy(col("container"))
  }

  /** The oracle rebuilds the byte-exact WAV: fixed header hex with
    * the two little-endian u32 sizes (36+2n, 2n) spliced in, then the
    * ordered int16-LE sample hex. printf('%02x') matches Scala's
    * "%02x" (lowercase, zero-padded). */
  private val m14Sql =
    """WITH s AS (SELECT user_id % 8 AS container,
      |    least(greatest(CAST(round(value * 100) AS INT), -32768), 32767) AS x,
      |    epoch_ms(ts) AS tms, event_id
      |  FROM events WHERE event_type = 'click'),
      |pcm AS (SELECT container,
      |    string_agg(printf('%02x%02x', ((x + 65536) % 65536) % 256,
      |      ((x + 65536) % 65536) // 256), '' ORDER BY tms, event_id) AS datahex,
      |    count(*) AS n, sum(x) AS ssum, min(x) AS smin, max(x) AS smax
      |  FROM s GROUP BY container),
      |wav AS (SELECT container, n, ssum, smin, smax,
      |    '52494646' ||
      |    printf('%02x%02x%02x%02x', (36 + 2*n) % 256, ((36 + 2*n) // 256) % 256,
      |      ((36 + 2*n) // 65536) % 256, ((36 + 2*n) // 16777216) % 256) ||
      |    '57415645666d74201000000001000100803e0000007d000002001000' ||
      |    '64617461' ||
      |    printf('%02x%02x%02x%02x', (2*n) % 256, ((2*n) // 256) % 256,
      |      ((2*n) // 65536) % 256, ((2*n) // 16777216) % 256) ||
      |    datahex AS hex
      |  FROM pcm)
      |SELECT container, CAST(n AS BIGINT) AS n_samples,
      |  CAST(44 + 2*n AS BIGINT) AS file_len,
      |  CAST(16000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
      |  CAST(16 AS BIGINT) AS bits, CAST(ssum AS BIGINT) AS sample_sum,
      |  CAST(smin AS BIGINT) AS sample_min, CAST(smax AS BIGINT) AS sample_max,
      |  md5(hex) AS wav_md5
      |FROM wav ORDER BY container""".stripMargin

  /** m17: REAL AVI multi-stream container round-trip. Per container,
    * view events are video packets (stream 0, 30 fps, keyframe every
    * 4th event id) and click events audio packets (stream 1,
    * 16 kHz); payloads are the md5-hex ASCII of
    * `container:stream:event_id`. Packets are interleaved by
    * (ts, event_id) — the output-container emit order — muxed into a
    * real AVI ([[graft.sources.Avi]]: hdrl/strh/strf, movi, idx1),
    * demuxed, and the emitted trace reads everything from the DEMUXED
    * file: position = file order, kind from the parsed strh, keyframe
    * from idx1, payload md5 from the movi chunk bytes. The oracle
    * predicts the interleave trace AND the total file length from the
    * AVI size arithmetic (332 + 56·packets for two streams of 32-byte
    * payloads), so a hash match pins chunk layout, index flags, and
    * interleaving end to end. */
  private def m15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Avi
    val streams = Seq(
      Avi.AviStream("vids", scale = 1, rate = 30, width = 64, height = 48),
      Avi.AviStream("auds", scale = 1, rate = 16000, channels = 1,
        bitsPerSample = 16))
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val pkts = it.map { r =>
        val stream = r._2 - 1
        val payload = md5Hex(s"$k:$stream:${r._3}".getBytes("UTF-8"))
          .getBytes("US-ASCII")
        Avi.AviPacket(stream,
          keyframe = stream != 0 || r._3 % 4 == 0, payload)
      }.toSeq
      val avi = Avi.mux(streams, pkts)
      val (ds, dp) = Avi.demux(avi)
      dp.zipWithIndex.map { case (p, i) =>
        val kind = ds(p.stream).kind
        (k, i.toLong,
          f"${p.stream}%02d" + (if (kind == "vids") "db" else "wb"),
          kind, p.keyframe, p.payload.length.toLong,
          md5Hex(p.payload), avi.length.toLong)
      }
    }.toDF("container", "pos", "ckid", "kind", "keyframe",
        "payload_len", "payload_md5", "file_len")
      .orderBy(col("container"), col("pos"))
  }

  private val m15Sql =
    """WITH e AS (SELECT user_id % 32 AS container,
      |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS stream,
      |    event_id, epoch_ms(ts) AS tms
      |  FROM events WHERE event_type IN ('view','click')),
      |p AS (SELECT container, stream, event_id,
      |    row_number() OVER (PARTITION BY container
      |                       ORDER BY tms, event_id) - 1 AS pos,
      |    md5(container::VARCHAR || ':' || stream::VARCHAR || ':'
      |        || event_id::VARCHAR) AS payload,
      |    (stream != 0 OR event_id % 4 = 0) AS keyframe
      |  FROM e),
      |n AS (SELECT container, count(*) AS cnt FROM p GROUP BY container)
      |SELECT p.container, CAST(pos AS BIGINT) AS pos,
      |  CASE WHEN stream = 0 THEN '00db' ELSE '01wb' END AS ckid,
      |  CASE WHEN stream = 0 THEN 'vids' ELSE 'auds' END AS kind,
      |  keyframe, CAST(32 AS BIGINT) AS payload_len,
      |  md5(payload) AS payload_md5,
      |  CAST(332 + 56 * cnt AS BIGINT) AS file_len
      |FROM p JOIN n USING (container) ORDER BY container, pos""".stripMargin

  /** m18: REAL demux feeding the input-container timeline — the full
    * #29 composition. Each container's two event streams are muxed
    * into an actual AVI (same interleave as m17), then the binary is
    * PARSED back: stream clocks come from the demuxed strh (16 kHz
    * audio / 30 fps video), per-stream packet indices from the movi
    * file order, and [[graft.sources.InputPacer.restamp]] anchors the
    * resulting dts timeline exactly as m04 does for parquet-packetized
    * media — so `container bytes → packets → wall timeline`, with
    * every field downstream of the byte-level parse, is under the
    * oracle (which predicts the whole composition from the event
    * table + the AVI clock arithmetic).
    *
    * Scale: mux+demux run per container key inside flatMapGroups (no
    * driver, no shuffle beyond the group key); the restamp adds one
    * per-container window — the m04 shape. */
  private def m18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Avi, InputPacer}
    val streams = Seq(
      Avi.AviStream("vids", scale = 1, rate = 30, width = 64, height = 48),
      Avi.AviStream("auds", scale = 1, rate = 16000, channels = 1,
        bitsPerSample = 16))
    val packets = sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val pkts = it.map { r =>
        val stream = r._2 - 1
        Avi.AviPacket(stream, keyframe = true,
          md5Hex(s"$k:$stream:${r._3}".getBytes("UTF-8")).getBytes("US-ASCII"))
      }.toSeq
      val (ds, dp) = Avi.demux(Avi.mux(streams, pkts))
      // per-stream running index in FILE order; dts advances one frame
      // (video) / one 1024-sample packet (audio) per demuxed packet,
      // on the clock PARSED from the container's strh
      val idx = new Array[Long](ds.length)
      dp.map { p =>
        val i = idx(p.stream); idx(p.stream) += 1
        val st = ds(p.stream)
        val dts = if (st.kind == "vids") i else i * 1024L
        (k, st.kind, dts, 1L, st.rate.toLong / math.max(1, st.scale))
      }
    }.toDF("container", "stream", "dts", "tb_num", "tb_den")
    InputPacer.restamp(packets, 1704067200000L)
      .select(col("container"), col("stream"), col("dts"), col("offset_ms"),
        col("ts"))
      .orderBy(col("container"), col("stream"), col("dts"))
  }

  private val m18Sql =
    """WITH e AS (SELECT user_id % 32 AS container,
      |    CASE WHEN event_type = 'view' THEN 'vids' ELSE 'auds' END AS stream,
      |    epoch_ms(ts) AS tms, event_id
      |  FROM events WHERE event_type IN ('view','click')),
      |k AS (SELECT container, stream,
      |        CAST(row_number() OVER (PARTITION BY container, stream
      |                                ORDER BY tms, event_id) - 1 AS BIGINT) AS i
      |      FROM e),
      |pk AS (SELECT container, stream,
      |         CASE WHEN stream = 'vids' THEN i ELSE i * 1024 END AS dts,
      |         CASE WHEN stream = 'vids' THEN (i * 1000) // 30
      |              ELSE (i * 1024 * 1000) // 16000 END AS offset_ms
      |       FROM k)
      |SELECT container, stream, dts, offset_ms,
      |  1704067200000 - min(offset_ms) OVER (PARTITION BY container)
      |    + offset_ms AS ts
      |FROM pk ORDER BY container, stream, dts""".stripMargin

  /** m19: REAL Matroska (EBML) container round-trip — the second
    * container family, and the one the reference actually streams
    * (mkv/webm). Per container, view/click events become video/audio
    * blocks on their stream clocks (33 ms frames / 32 ms audio
    * packets), interleaved by (ts, track) and muxed into an actual
    * EBML tree ([[graft.sources.Mkv]]: EBML header, Segment >
    * Info/Tracks, Cluster > SimpleBlock with int16 cluster-relative
    * timestamps). The emitted trace is read from the PARSED bytes —
    * cluster index and base from each Cluster's walk, track/abs
    * ts/keyframe/payload from the SimpleBlock framing — and the
    * oracle predicts all of it, including the cluster segmentation
    * (pos div 8, base = min ts in cluster), so a hash match pins the
    * EBML vint framing, the relative-timestamp arithmetic, and the
    * cluster packing rule. Scale: same per-container mapGroups shape
    * as m16–m18. */
  private def m19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Ebml, Mkv}
    val tracks = Seq(
      Mkv.MkvTrack(1, "video", "V_GRAFT", width = 64, height = 48),
      Mkv.MkvTrack(2, "audio", "A_PCM/INT/LIT", sampleRate = 16000.0,
        channels = 1))
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val blocks = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          Mkv.MkvBlock(trk, if (trk == 1) i * 33L else i * 32L,
            keyframe = trk == 2 || r._3 % 4 == 0,
            md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8")).getBytes("US-ASCII"))
        }
      }.sortBy(b => (b.tsMs, b.track))
      val bytes = Mkv.mux(tracks, blocks)
      val kindOf = Mkv.demux(bytes)._1.map(t => t.number -> t.kind).toMap
      // trace from the raw EBML tree so the cluster structure itself
      // is under the oracle, not just the flattened blocks
      val seg = Ebml.children(bytes, 0, bytes.length)
        .find(_.id == Mkv.IdSegment).get
      var pos = 0L
      Ebml.children(seg.data, 0, seg.data.length)
        .filter(_.id == Mkv.IdCluster).zipWithIndex.flatMap { case (cl, ci) =>
          val els = Ebml.children(cl.data, 0, cl.data.length)
          val base = els.find(_.id == Mkv.IdClusterTs)
            .map(e => Ebml.readUint(e.data)).getOrElse(0L)
          els.filter(_.id == Mkv.IdSimpleBlock).map { sb =>
            val (trk, tLen) = Ebml.readVint(sb.data, 0)
            val rel = ((sb.data(tLen) & 0xff) << 8) | (sb.data(tLen + 1) & 0xff)
            val p = pos; pos += 1
            (k, p, ci.toLong, base, trk, kindOf(trk.toInt),
              base + rel, (sb.data(tLen + 2) & 0x80) != 0,
              md5Hex(java.util.Arrays.copyOfRange(sb.data, tLen + 3,
                sb.data.length)))
          }
        }
    }.toDF("container", "pos", "cluster_idx", "cluster_base", "track",
        "kind", "ts_ms", "keyframe", "payload_md5")
      .orderBy(col("container"), col("pos"))
  }

  private val m19Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id,
      |          CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          (track = 2 OR event_id % 4 = 0) AS keyframe,
      |          md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR) AS payload
      |        FROM k),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY container
      |          ORDER BY ts_ms, track) - 1 AS pos FROM blk),
      |cl AS (SELECT *, pos // 8 AS cluster_idx FROM ord),
      |cb AS (SELECT container, cluster_idx, min(ts_ms) AS cluster_base
      |       FROM cl GROUP BY container, cluster_idx)
      |SELECT c.container, CAST(pos AS BIGINT) AS pos,
      |  CAST(c.cluster_idx AS BIGINT) AS cluster_idx,
      |  CAST(cluster_base AS BIGINT) AS cluster_base,
      |  CAST(track AS BIGINT) AS track,
      |  CASE WHEN track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(ts_ms AS BIGINT) AS ts_ms, keyframe, md5(payload) AS payload_md5
      |FROM cl c JOIN cb ON c.container = cb.container
      |  AND c.cluster_idx = cb.cluster_idx
      |ORDER BY c.container, pos""".stripMargin

  /** m20: the COMPOSED MEDIA DEPLOYMENT — input container → DSP
    * operators → output container in ONE plan, the canonical pipeline
    * a reference user wires in the UI (inputcontainer → volume scaler
    * (#21) → noise gate (#37-shape) → outputcontainer,
    * media/inputcontainer.py → tasks/media/… → media/outputcontainer
    * .py). Per container key: m16's WAV bytes build, a REAL demux
    * parses them back, the sample stream runs gain ×½ (arithmetic
    * shift — floor semantics on both engines) then a ±50 noise gate,
    * and a REAL mux writes the output WAV. The emitted row carries the
    * OUTPUT file's md5 next to the input's, and the DuckDB oracle
    * reconstructs BOTH byte streams — input per m16's construction,
    * output by applying the same integer DSP in SQL — so the hash
    * proves the whole chain end-to-end at byte exactness: a mux, a
    * demux, two operators, a re-mux, nothing stubbed.
    *
    * Scale: identical to m16 — one group per container, pipeline
    * runs where the group lives, a billion containers = a billion
    * independent groups, nothing at the driver. */
  private def m20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Wav
    sortedKernel(pcmClicks(s, d, 8), "key") { (k, it) =>
      val xs = it.map(_._2).toArray
      val inWav = Wav.mux(Wav.WavData(16000, 1, 16, Wav.pcm16(xs)))
      // the deployment: demux → gain ×1/2 → noise gate ±50 → mux
      val decoded = Wav.samples16(Wav.demux(inWav).data)
      val processed = decoded.map { x =>
        val y = x >> 1 // floor-div-2: matches SQL's // on negatives
        if (math.abs(y) < 50) 0 else y
      }
      val outWav = Wav.mux(Wav.WavData(16000, 1, 16, Wav.pcm16(processed)))
      Iterator.single((k, processed.length.toLong,
        processed.count(_ == 0).toLong, // gate engagement is visible
        processed.foldLeft(0L)(_ + _),
        md5Hex(inWav.map("%02x".format(_)).mkString.getBytes("UTF-8")),
        md5Hex(outWav.map("%02x".format(_)).mkString.getBytes("UTF-8"))))
    }.toDF("container", "n_samples", "n_gated", "sample_sum",
        "in_md5", "out_md5")
      .orderBy(col("container"))
  }

  private val m20Sql =
    """WITH s AS (SELECT user_id % 8 AS container,
      |    least(greatest(CAST(round(value * 100) AS INT), -32768), 32767) AS x,
      |    epoch_ms(ts) AS tms, event_id
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT container, tms, event_id, x,
      |    CASE WHEN abs(x // 2) < 50 THEN 0 ELSE x // 2 END AS y
      |  FROM s),
      |pcm AS (SELECT container,
      |    string_agg(printf('%02x%02x', ((x + 65536) % 65536) % 256,
      |      ((x + 65536) % 65536) // 256), '' ORDER BY tms, event_id) AS inhex,
      |    string_agg(printf('%02x%02x', ((y + 65536) % 65536) % 256,
      |      ((y + 65536) % 65536) // 256), '' ORDER BY tms, event_id) AS outhex,
      |    count(*) AS n, sum(y) AS ysum,
      |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS ngated
      |  FROM p GROUP BY container),
      |wav AS (SELECT container, n, ysum, ngated,
      |    '52494646' ||
      |    printf('%02x%02x%02x%02x', (36 + 2*n) % 256, ((36 + 2*n) // 256) % 256,
      |      ((36 + 2*n) // 65536) % 256, ((36 + 2*n) // 16777216) % 256) ||
      |    '57415645666d74201000000001000100803e0000007d000002001000' ||
      |    '64617461' ||
      |    printf('%02x%02x%02x%02x', (2*n) % 256, ((2*n) // 256) % 256,
      |      ((2*n) // 65536) % 256, ((2*n) // 16777216) % 256) AS hdr,
      |    inhex, outhex
      |  FROM pcm)
      |SELECT container, CAST(n AS BIGINT) AS n_samples,
      |  CAST(ngated AS BIGINT) AS n_gated, CAST(ysum AS BIGINT) AS sample_sum,
      |  md5(hdr || inhex) AS in_md5, md5(hdr || outhex) AS out_md5
      |FROM wav ORDER BY container""".stripMargin

  /** m25: REAL FRAGMENTED-MP4 (ISO-BMFF) container round-trip — the
    * THIRD container family ([[graft.sources.IsoBmff]]: ftyp/moov
    * with mvex/trex defaults, per-fragment moof > traf >
    * tfhd/tfdt/trun + mdat, default-base-is-moof data offsets,
    * version-1 64-bit tfdt) next to RIFF (m16/m17) and EBML (m19),
    * and the segmented shape DASH/HLS/MSE clients consume. Per
    * container, m19's exact block timeline (view/click → video/audio
    * samples on 33 ms / 32 ms clocks) is muxed into real boxes —
    * fragments close every 8 samples of the interleaved order, each
    * track's traf carrying its contiguous mdat run — then the trace
    * is read from the PARSED bytes: fragment index from the moof
    * walk, per-traf tfdt baseMediaDecodeTime, per-sample dts
    * REBUILT from tfdt + the trun duration chain, keyframe from the
    * sample_is_non_sync_sample flag, payload resolved through the
    * moof-relative data offset. The oracle predicts all of it —
    * including the fragmentation (pos div 8) and each (fragment,
    * track) run's tfdt (min dts of the run) — so a hash match pins
    * the box framing, the offset addressing, and the decode-time
    * arithmetic. Scale: the m16–m19 per-container mapGroups shape —
    * one group per container, bytes never at the driver. */
  private def m25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.IsoBmff
    import graft.sources.IsoBmff.{Mp4Sample, Mp4Track}
    val tracks = Seq(
      Mp4Track(1, "video", "grft", width = 64, height = 48),
      Mp4Track(2, "audio", "gpcm", sampleRate = 16000, channels = 1))
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val samples = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          Mp4Sample(trk, if (trk == 1) i * 33L else i * 32L,
            dur = if (trk == 1) 33L else 32L,
            keyframe = trk == 2 || r._3 % 4 == 0,
            md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8")).getBytes("US-ASCII"))
        }
      }.sortBy(sm => (sm.dts, sm.track))
      val bytes = IsoBmff.mux(tracks, samples, fragMax = 8)
      val kindOf = IsoBmff.demux(bytes)._1.map(t => t.id -> t.kind).toMap
      // trace from the raw box walk so the fragment structure itself
      // is under the oracle, not just the flattened samples
      IsoBmff.boxes(bytes, 0, bytes.length).filter(_.kind == "moof")
        .zipWithIndex.flatMap { case (moof, fi) =>
          IsoBmff.boxes(moof.data, 0, moof.data.length)
            .filter(_.kind == "traf").flatMap { tf =>
              val els = IsoBmff.boxes(tf.data, 0, tf.data.length)
              val trackId = IsoBmff
                .readU32(els.find(_.kind == "tfhd").get.data, 4).toInt
              val tfdt = IsoBmff
                .readU64(els.find(_.kind == "tfdt").get.data, 4)
              val trun = els.find(_.kind == "trun").get.data
              val n = IsoBmff.readU32(trun, 4).toInt
              var off = moof.pos + IsoBmff.readU32(trun, 8)
              var dts = tfdt
              (0 until n).map { i =>
                val base = 12 + i * 12
                val dur = IsoBmff.readU32(trun, base)
                val size = IsoBmff.readU32(trun, base + 4).toInt
                val nonSync = (IsoBmff.readU32(trun, base + 8)
                  & IsoBmff.NonSync) != 0
                val payload = java.util.Arrays
                  .copyOfRange(bytes, off.toInt, off.toInt + size)
                val row = (k, fi.toLong, trackId.toLong, kindOf(trackId),
                  tfdt, dts, dur, !nonSync,
                  md5Hex(payload))
                dts += dur; off += size
                row
              }
            }
        }
    }.toDF("container", "frag_idx", "track", "kind", "tfdt", "ts_ms",
        "dur", "keyframe", "payload_md5")
      .orderBy(col("container"), col("frag_idx"), col("track"),
        col("ts_ms"))
  }

  private val m25Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id,
      |          CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          CASE WHEN track = 1 THEN 33 ELSE 32 END AS dur,
      |          (track = 2 OR event_id % 4 = 0) AS keyframe,
      |          md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR) AS payload
      |        FROM k),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY container
      |          ORDER BY ts_ms, track) - 1 AS pos FROM blk),
      |fr AS (SELECT *, pos // 8 AS frag_idx FROM ord),
      |base AS (SELECT container, frag_idx, track, min(ts_ms) AS tfdt
      |         FROM fr GROUP BY container, frag_idx, track)
      |SELECT f.container, CAST(f.frag_idx AS BIGINT) AS frag_idx,
      |  CAST(f.track AS BIGINT) AS track,
      |  CASE WHEN f.track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(b.tfdt AS BIGINT) AS tfdt,
      |  CAST(f.ts_ms AS BIGINT) AS ts_ms,
      |  CAST(f.dur AS BIGINT) AS dur,
      |  f.keyframe, md5(f.payload) AS payload_md5
      |FROM fr f JOIN base b ON f.container = b.container
      |  AND f.frag_idx = b.frag_idx AND f.track = b.track
      |ORDER BY f.container, f.frag_idx, f.track, f.ts_ms""".stripMargin

  /** m26: REAL MPEG-TS round-trip — the FOURTH container family
    * ([[graft.sources.MpegTs]]), and the one the reference's video
    * viewer ACTUALLY emits to its browser client
    * (ui/videoviewer.py:63 — `OutputContainer.open(buffer,
    * format="mpegts")`): 188-byte packets, PAT→PMT with MPEG CRC-32,
    * PES with 33-bit 90 kHz PTS, PCR on the video PID, adaptation
    * -field stuffing. Per container, the m19 timeline becomes PES
    * samples with size-varying payloads (the md5 tag repeated
    * 1 + event_id mod 8 times, so PES genuinely span 1–2 packets),
    * muxed and demuxed back; the trace carries what the DEMUX
    * validated and reassembled — stream type resolved through the
    * PAT→PMT chain, the 90 kHz PTS divided back to ms, the TS packet
    * count each PES occupied, and the video PES's PCR base — and the
    * oracle predicts all of it, including the packet-count arithmetic
    * (first video packet pays the 8-byte PCR adaptation field: 176
    * payload bytes vs 184). Scale: the m16–m25 per-container
    * mapGroups shape. */
  private def m26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.MpegTs
    import graft.sources.MpegTs.TsSample
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val samples = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          val tsMs = if (trk == 1) i * 33L else i * 32L
          val tag = md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8"))
          (tsMs, trk, TsSample(if (trk == 1) "video" else "audio",
            tsMs * 90, (tag * (1 + (r._3 % 8)).toInt).getBytes("US-ASCII")))
        }
      }.sortBy(sm => (sm._1, sm._2)).map(_._3)
      val bytes = MpegTs.mux(samples)
      MpegTs.demux(bytes).zipWithIndex.map { case (pes, i) =>
        (k, i.toLong,
          if (pes.streamType == MpegTs.VideoStreamType) "video" else "audio",
          pes.pts90 / 90, pes.nPackets.toLong,
          pes.pcrBase.map(_ / 90).map(Long.box).orNull,
          md5Hex(pes.payload))
      }
    }.toDF("container", "pes_idx", "kind", "pts_ms", "n_packets",
        "pcr_ms", "payload_md5")
      .orderBy(col("container"), col("pes_idx"))
  }

  private val m26Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id,
      |          CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS pts_ms,
      |          repeat(md5(container::VARCHAR || ':' || track::VARCHAR
      |                     || ':' || event_id::VARCHAR),
      |                 CAST(1 + event_id % 8 AS INT)) AS payload
      |        FROM k),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY container
      |          ORDER BY pts_ms, track) - 1 AS pes_idx FROM blk),
      |sized AS (SELECT *,
      |    14 + length(payload) AS total,
      |    CASE WHEN track = 1 THEN 176 ELSE 184 END AS cap1
      |  FROM ord)
      |SELECT container, CAST(pes_idx AS BIGINT) AS pes_idx,
      |  CASE WHEN track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(pts_ms AS BIGINT) AS pts_ms,
      |  CAST(1 + CASE WHEN total > cap1
      |             THEN CAST(ceil((total - cap1) / 184.0) AS BIGINT)
      |             ELSE 0 END AS BIGINT) AS n_packets,
      |  CAST(CASE WHEN track = 1 THEN pts_ms END AS BIGINT) AS pcr_ms,
      |  md5(payload) AS payload_md5
      |FROM sized ORDER BY container, pes_idx""".stripMargin

  /** m27: the CONTAINER TRANSCODE MATRIX — the same two-stream
    * timeline muxed and demuxed through EIGHT container byte-format
    * legs (AVI/RIFF, FLV, Matroska/EBML, ISO-BMFF in BOTH layouts
    * — fragmented moof/trun AND classic moov sample tables — MPEG-TS,
    * Ogg, and GAC-coded-audio-in-Ogg) inside one per-container kernel,
    * each format's
    * recovered stream reduced to the same canonical aggregate
    * (sample counts per kind, timestamp sum, order-free payload
    * checksum). This is the reference's container-matrix test shape
    * (tests/media/test_containers.py:20-29 — mux→demux round-trips
    * across its container list) promoted to an oracle-gated query:
    * the oracle computes the canonical aggregate ONCE from the
    * timeline and predicts it for every format row, so a hash match
    * proves all six byte formats carry the identical stream —
    * timestamps via seven different mechanisms (AVI's position-implied
    * clocks, FLV's split 24+8-bit ms field, EBML cluster-relative
    * int16s, tfdt+trun duration chains, stts run-length chains with
    * stsc/stco chunk addressing, 90 kHz PES PTS, Ogg page granule
    * positions). Scale: one mapGroups kernel per container, seven
    * in-memory round-trips per group, nothing at the driver. */
  private def m27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Avi, IsoBmff, Mkv, MpegTs}
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      // the shared timeline: (track, tsMs, keyframe, payload)
      val blocks = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          (trk, if (trk == 1) i * 33L else i * 32L,
            trk == 2 || r._3 % 4 == 0,
            md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8"))
              .getBytes("US-ASCII"))
        }
      }.sortBy(b => (b._2, b._1))
      def h48(payload: Array[Byte]): Long =
        java.lang.Long.parseLong(md5Hex(payload).take(12), 16)
      def agg(recovered: Seq[(Int, Long, Array[Byte])]) = (
        recovered.count(_._1 == 1).toLong,
        recovered.count(_._1 == 2).toLong,
        recovered.map(_._2).sum,
        recovered.map(b => h48(b._3)).sum)

      // --- AVI: position-implied clocks (scale/rate ms steps)
      val aviStreams = Seq(
        Avi.AviStream("vids", 33, 1000, width = 64, height = 48),
        Avi.AviStream("auds", 32, 1000, channels = 1, bitsPerSample = 8))
      val aviBytes = Avi.mux(aviStreams,
        blocks.map(b => Avi.AviPacket(b._1 - 1, b._3, b._4)))
      val (gotStreams, gotPkts) = Avi.demux(aviBytes)
      val perStream = scala.collection.mutable.Map(0 -> 0L, 1 -> 0L)
      val aviRec = gotPkts.map { p =>
        val i = perStream(p.stream); perStream(p.stream) = i + 1
        val st = gotStreams(p.stream)
        (p.stream + 1, i * st.scale * 1000L / st.rate, p.payload)
      }

      // --- Matroska: cluster-relative int16 timestamps
      val mkvTracks = Seq(
        Mkv.MkvTrack(1, "video", "V_GRAFT", width = 64, height = 48),
        Mkv.MkvTrack(2, "audio", "A_PCM/INT/LIT", sampleRate = 16000.0,
          channels = 1))
      val mkvRec = Mkv.demux(Mkv.mux(mkvTracks,
        blocks.map(b => Mkv.MkvBlock(b._1, b._2, b._3, b._4))))._2
        .map(b => (b.track, b.tsMs, b.payload))

      // --- fMP4: tfdt + trun duration chains
      val mp4Tracks = Seq(
        IsoBmff.Mp4Track(1, "video", "grft", width = 64, height = 48),
        IsoBmff.Mp4Track(2, "audio", "gpcm", sampleRate = 16000,
          channels = 1))
      val mp4Samples = blocks.map(b => IsoBmff.Mp4Sample(b._1, b._2,
        if (b._1 == 1) 33L else 32L, b._3, b._4))
      val mp4Rec = IsoBmff.demux(IsoBmff.mux(mp4Tracks, mp4Samples))._2
        .map(sm => (sm.track, sm.dts, sm.payload))

      // --- classic MP4: the same timeline through moov sample tables
      // (stts duration chains + stsc/stco chunk addressing — the m35
      // layout as a matrix leg)
      val mp4cPresent = mp4Tracks.filter(t => mp4Samples.exists(_.track == t.id))
      val mp4cRec = IsoBmff.demuxFlat(
        IsoBmff.muxFlat(mp4cPresent, mp4Samples))._2
        .map(sm => (sm.track, sm.dts, sm.payload))

      // --- MPEG-TS: 90 kHz PES PTS
      val tsRec = MpegTs.demux(MpegTs.mux(
        blocks.map(b => MpegTs.TsSample(
          if (b._1 == 1) "video" else "audio", b._2 * 90, b._4))))
        .map(p => (if (p.streamType == MpegTs.VideoStreamType) 1 else 2,
          p.pts90 / 90, p.payload))

      // --- FLV: split 24+8-bit ms timestamps (the RTMP frame layer)
      val flvRec = graft.sources.Flv.demux(graft.sources.Flv.mux(
        blocks.map(b => graft.sources.Flv.FlvTag(
          if (b._1 == 1) graft.sources.Flv.TagVideo
          else graft.sources.Flv.TagAudio, b._2, b._3, b._4))))._3
        .map(t => (if (t.tagType == graft.sources.Flv.TagVideo) 1 else 2,
          t.tsMs, t.payload))

      // --- Ogg: RFC 3533 pages (BOS/EOS logical streams, lacing,
      // unreflected CRC-32), granule = ms — the Opus/Vorbis transport
      val oggRec = {
        import graft.sources.Ogg
        val (_, ps) = Ogg.demux(Ogg.mux(
          Seq(Ogg.OggStream(1L, "video"), Ogg.OggStream(2L, "audio")),
          blocks.map(b => Ogg.OggPacket(b._1.toLong, b._2, b._4))))
        ps.map(p => (p.serial.toInt, p.granule, p.payload))
      }

      // --- GAC-in-Ogg: the CODED-AUDIO composition (the Opus-in-Ogg
      // shape now both layers exist): the same two data streams plus a
      // THIRD logical stream carrying one GAC bitstream — a ~1 kB
      // packet laced across page segments, the continued-packet path
      // real Ogg audio exercises. After demux the codec stream is
      // reassembled and DECODED (sync/CRC verified inside Gac.decode,
      // ≥25 dB SNR required — p14's gates, here proven THROUGH the
      // transport), while the data streams must still carry the
      // identical canonical timeline.
      val gacOggRec = {
        import graft.sources.Ogg
        val codec = graft.functions.Gac()
        val n = 1024
        val pcm = new Array[Byte](n * 2)
        val f1 = (k % 7 + 2).toDouble
        val f2 = (k % 11 + 5).toDouble
        var i = 0
        while (i < n) {
          val v = (9000 * math.sin(2 * math.Pi * f1 * i / 256.0) +
            6000 * math.sin(2 * math.Pi * f2 * i / 128.0)).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val gacPacket = codec.encode(pcm)
        val (_, ps) = Ogg.demux(Ogg.mux(
          Seq(Ogg.OggStream(1L, "video"), Ogg.OggStream(2L, "audio"),
            Ogg.OggStream(3L, "gac")),
          blocks.map(b => Ogg.OggPacket(b._1.toLong, b._2, b._4)) :+
            Ogg.OggPacket(3L, n.toLong, gacPacket)))
        val (codecPs, dataPs) = ps.partition(_.serial == 3L)
        require(codecPs.size == 1 && codecPs.head.granule == n.toLong,
          s"container $k: gac logical stream drift through the pages")
        val dec = codec.decode(codecPs.head.payload)
        var sig = 0.0; var err = 0.0
        i = 0
        while (i < n) {
          val a = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))
            .toShort.toDouble
          val b = ((dec(2 * i + 1) << 8) | (dec(2 * i) & 0xff))
            .toShort.toDouble
          sig += a * a; err += (a - b) * (a - b); i += 1
        }
        require(err == 0 || 10.0 * math.log10(sig / err) >= 25.0,
          s"container $k: gac-through-ogg SNR below the p14 gate")
        dataPs.map(p => (p.serial.toInt, p.granule, p.payload))
      }

      Seq("avi" -> aviRec, "flv" -> flvRec, "gacogg" -> gacOggRec,
        "mkv" -> mkvRec,
        "mp4" -> mp4Rec, "mp4c" -> mp4cRec, "ogg" -> oggRec, "ts" -> tsRec)
        .map { case (family, rec) =>
        val (nv, na, tsum, psum) = agg(rec)
        (k, family, nv, na, tsum, psum)
      }
    }.toDF("container", "family", "n_video", "n_audio", "ts_sum",
        "payload_sum")
      .orderBy(col("container"), col("family"))
  }

  private val m27Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track,
      |          CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR) AS payload
      |        FROM k),
      |canon AS (SELECT container,
      |    CAST(count(*) FILTER (track = 1) AS BIGINT) AS n_video,
      |    CAST(count(*) FILTER (track = 2) AS BIGINT) AS n_audio,
      |    CAST(sum(ts_ms) AS BIGINT) AS ts_sum,
      |    CAST(sum(CAST(concat('0x', substr(md5(payload), 1, 12))
      |                  AS BIGINT)) AS BIGINT) AS payload_sum
      |  FROM blk GROUP BY container)
      |SELECT container, family, n_video, n_audio, ts_sum, payload_sum
      |FROM canon,
      |  (SELECT unnest(['avi','flv','gacogg','mkv','mp4','mp4c','ogg','ts'])
      |     AS family)
      |ORDER BY container, family""".stripMargin

  /** m28: MOTION-COMPENSATED VIDEO CODING — the inter-frame
    * prediction mechanism the engine's codec matrix was missing (m09
    * is frame-delta without motion; the reference runs h264/vp8
    * through libav, media/codec.py:50-135). Per container, a 16×16
    * synthetic sequence with GLOBAL per-frame motion (the md5-noise
    * background wrap-shifts by a per-frame (dx, dy) ∈ [−3, 3]²) plus
    * a per-frame sparkle pixel runs through
    * [[graft.functions.Motion.encodeP]]'s closed loop: full-search
    * 8×8 block matching (±3, SAD argmin, raster tie-break) against
    * the RECONSTRUCTED previous frame, lossless residuals (q=1). The
    * DuckDB oracle replicates the ENTIRE search — it synthesizes the
    * same frames from the same md5 bytes, evaluates all 49 candidate
    * displacements per block (wrap addressing), and takes the same
    * (sad, dy, dx) argmin — so the hash gate pins the estimation
    * math itself, not just its expected result; the reconstructed
    * block sums (from the codec's own recon buffer) are checked
    * against the oracle's direct frame sums, pinning the
    * prediction+residual loop. Closed-loop QUANTIZED residuals (the
    * lossy leg, recursively defined across frames) are pinned by
    * MotionSpec against a direct model. Scale: one mapGroups kernel
    * per container; frames capped at 24 so the 49-candidate search
    * stays O(1) per container at any SF. */
  /** m28's per-container kernel, self-contained and explicitly
    * serializable so the flatMapGroups closure ships only this. */
  private[operators] object MotionKernel extends Serializable {
    private def wrap16(v: Int): Int = ((v % 16) + 16) % 16

    /** The shared deterministic 16×16 test sequence (m28 + m36):
      * md5-noise background wrap-shifted by a per-frame global
      * (dx, dy) ∈ [−3, 3]² plus a per-frame sparkle pixel — synthetic
      * global motion both oracles re-derive from the same md5 bytes.
      * Empty below 2 frames; capped at 24 so downstream searches stay
      * O(1) per container at any SF. */
    def frameSeq(k: Long, count: Int): Seq[Array[Int]] = {
      val n = math.min(24, count)
      if (n < 2) return Seq.empty
      val bg = Array.tabulate(16, 16)((x, y) => hexbyte(s"mc${k}_${x}_${y}"))
      val steps = (1 until n).map(t =>
        (hexbyte(s"dx${k}_$t") % 7 - 3, hexbyte(s"dy${k}_$t") % 7 - 3))
      (0 until n).map { t =>
        val cumX = steps.take(t).map(_._1).sum
        val cumY = steps.take(t).map(_._2).sum
        val sx = hexbyte(s"sx${k}_$t") % 16
        val sy = hexbyte(s"sy${k}_$t") % 16
        val f = new Array[Int](256)
        for (y <- 0 until 16; x <- 0 until 16)
          f(y * 16 + x) = (bg(wrap16(x + cumX))(wrap16(y + cumY)) +
            (if (x == sx && y == sy) 40 else 0)) % 256
        f
      }
    }

    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.functions.Motion
      val fs = frameSeq(k, count)
      if (fs.isEmpty) return Iterator.empty
      var recon = fs.head // I-frame: transmitted as-is
      (1 until fs.length).iterator.flatMap { t =>
        val cur = fs(t)
        val (pf, rec) = Motion.encodeP(cur, recon, 16, 16, 8,
          range = 3, q = 1)
        recon = rec
        pf.mvs.map { mv =>
          val block = mv.by * 2 + mv.bx
          var bsum = 0L
          for (y <- 0 until 8; x <- 0 until 8)
            bsum += rec((mv.by * 8 + y) * 16 + (mv.bx * 8 + x))
          (k, t.toLong, block.toLong, mv.dx.toLong, mv.dy.toLong,
            mv.sad, bsum)
        }
      }
    }
  }

  private def m28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(MotionKernel.rows)
      .toDF("container", "t", "block", "mv_dx", "mv_dy", "sad", "block_sum")
      .orderBy(col("container"), col("t"), col("block"))
  }

  private val m28Sql =
    s"""${viewCnt(24)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |steps AS (SELECT container, t,
      |    CAST(concat('0x', substr(md5('dx' || container || '_' || t), 1, 2)) AS BIGINT) % 7 - 3 AS dx,
      |    CAST(concat('0x', substr(md5('dy' || container || '_' || t), 1, 2)) AS BIGINT) % 7 - 3 AS dy
      |  FROM frames WHERE t >= 1),
      |cum AS (SELECT f.container, f.t,
      |    COALESCE((SELECT sum(s.dx) FROM steps s
      |              WHERE s.container = f.container AND s.t <= f.t), 0) AS cumx,
      |    COALESCE((SELECT sum(s.dy) FROM steps s
      |              WHERE s.container = f.container AND s.t <= f.t), 0) AS cumy,
      |    CAST(concat('0x', substr(md5('sx' || f.container || '_' || f.t), 1, 2)) AS BIGINT) % 16 AS sx,
      |    CAST(concat('0x', substr(md5('sy' || f.container || '_' || f.t), 1, 2)) AS BIGINT) % 16 AS sy
      |  FROM frames f),
      |pix AS MATERIALIZED (SELECT c.container, c.t, g.x, g.y,
      |    (CAST(concat('0x', substr(md5('mc' || c.container || '_'
      |        || ((g.x + c.cumx) % 16 + 16) % 16 || '_'
      |        || ((g.y + c.cumy) % 16 + 16) % 16), 1, 2)) AS BIGINT)
      |     + CASE WHEN g.x = c.sx AND g.y = c.sy THEN 40 ELSE 0 END) % 256
      |      AS v
      |  FROM cum c, (SELECT a.x, b.y FROM
      |    (SELECT unnest(range(16)) AS x) a,
      |    (SELECT unnest(range(16)) AS y) b) g),
      |cand AS (SELECT a.u, b.w FROM
      |  (SELECT unnest(generate_series(-3, 3)) AS u) a,
      |  (SELECT unnest(generate_series(-3, 3)) AS w) b),
      |sads AS (SELECT cur.container, cur.t,
      |    (cur.y // 8) * 2 + (cur.x // 8) AS block, cand.u, cand.w,
      |    sum(abs(cur.v - prev.v)) AS sad
      |  FROM pix cur
      |  CROSS JOIN cand
      |  JOIN pix prev ON prev.container = cur.container
      |    AND prev.t = cur.t - 1
      |    AND prev.x = ((cur.x + cand.u) % 16 + 16) % 16
      |    AND prev.y = ((cur.y + cand.w) % 16 + 16) % 16
      |  GROUP BY 1, 2, 3, 4, 5),
      |best AS (SELECT container, t, block, u, w, sad FROM (
      |    SELECT *, row_number() OVER (PARTITION BY container, t, block
      |      ORDER BY sad, w, u) AS rn FROM sads)
      |  WHERE rn = 1),
      |bsums AS (SELECT container, t, (y // 8) * 2 + (x // 8) AS block,
      |    CAST(sum(v) AS BIGINT) AS block_sum
      |  FROM pix WHERE t >= 1 GROUP BY 1, 2, 3)
      |SELECT b.container, CAST(b.t AS BIGINT) AS t,
      |  CAST(b.block AS BIGINT) AS block,
      |  CAST(b.u AS BIGINT) AS mv_dx, CAST(b.w AS BIGINT) AS mv_dy,
      |  CAST(b.sad AS BIGINT) AS sad, s.block_sum
      |FROM best b JOIN bsums s ON b.container = s.container
      |  AND b.t = s.t AND b.block = s.block
      |ORDER BY b.container, b.t, b.block""".stripMargin

  /** m30: REAL FLV round-trip — the FIFTH container family
    * ([[graft.sources.Flv]]) and the frame layer of the reference's
    * LIVE ingest path: `inputcontainer` accepts `rtmp://` sources
    * (inputcontainer.py:85-98 → media/container.py:38-116), and the
    * bytes RTMP delivers are exactly an FLV body. Per container, the
    * m25 timeline (view/click → video/audio tags on 33/32 ms clocks)
    * is muxed into real FLV tags and demuxed from the PARSED bytes —
    * tag framing, the validated PreviousTagSize back-pointer chain,
    * keyframe bits from the video FrameType nibble, and payloads of
    * varying size (the md5 tag repeated 1 + event_id mod 3 times).
    * The whole timeline rides a 20 000 000 ms base offset, past the
    * 2^24 ms rollover, so every rebuilt timestamp exercises the
    * split Timestamp/TimestampExtended field — the demux must stitch
    * bits 24..31 back on or every ts is wrong by 16 777 216 ms. The
    * oracle predicts the interleave order, the rebuilt timestamps,
    * the keyframe flags, each payload md5 and the exact file length
    * (13-byte header + Σ(16 + payload) tag framing). Scale: the
    * m16–m26 per-container mapGroups shape — one group per
    * container, bytes never at the driver. */
  private def m30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Flv
    val Base = 20000000L // > 2^24 ms: forces TimestampExtended ≠ 0
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val tags = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          val payload = (md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8"))
            * (1 + (r._3 % 3)).toInt).getBytes("US-ASCII")
          if (trk == 1)
            (Flv.FlvTag(Flv.TagVideo, Base + i * 33L, r._3 % 4 == 0, payload), trk)
          else
            (Flv.FlvTag(Flv.TagAudio, Base + i * 32L, keyframe = true, payload), trk)
        }
      }.sortBy { case (t, trk) => (t.tsMs, trk) }.map(_._1)
      val bytes = Flv.mux(tags)
      val (hasA, hasV, dec) = Flv.demux(bytes)
      require(hasA && hasV, "flags byte must advertise both tracks")
      dec.zipWithIndex.map { case (t, i) =>
        (k, i.toLong,
          if (t.tagType == Flv.TagVideo) "video" else "audio",
          t.tsMs, t.keyframe, md5Hex(t.payload), bytes.length.toLong)
      }
    }.toDF("container", "tag_idx", "kind", "ts_ms", "keyframe",
        "payload_md5", "flen")
      .orderBy(col("container"), col("tag_idx"))
  }

  private val m30Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id,
      |          20000000 + CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          (track = 2 OR event_id % 4 = 0) AS keyframe,
      |          repeat(md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR), CAST(1 + event_id % 3 AS INT)) AS payload
      |        FROM k),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY container
      |          ORDER BY ts_ms, track) - 1 AS tag_idx FROM blk),
      |fl AS (SELECT container, 13 + sum(16 + length(payload)) AS flen
      |       FROM blk GROUP BY container)
      |SELECT o.container, CAST(o.tag_idx AS BIGINT) AS tag_idx,
      |  CASE WHEN o.track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(o.ts_ms AS BIGINT) AS ts_ms, o.keyframe,
      |  md5(o.payload) AS payload_md5, CAST(f.flen AS BIGINT) AS flen
      |FROM ord o JOIN fl f ON o.container = f.container
      |ORDER BY o.container, o.tag_idx""".stripMargin

  /** m31: RTMP chunk-stream framing ([[graft.sources.Rtmp]]) — the
    * WIRE layer under m30's FLV frames, completing the reference's
    * live-ingest stack (`rtmp://` → media/container.py:38-116) down
    * to the byte framing libav speaks on the socket. Per container,
    * the m30 timeline becomes RTMP messages (audio type 8 on csid 4,
    * video type 9 on csid 6, FLV-equal type ids) muxed at chunk size
    * 48 — declared by a real Set Chunk Size control message — and
    * demuxed back from the parsed bytes with per-chunk-stream header
    * decompression and reassembly of split messages. The 20 000 000 ms
    * base rides past 0xFFFFFF, so every Type-0 header carries the
    * extended-timestamp sentinel and message 0's continuation chunks
    * repeat it (§5.3.1.3), while the small 32/33 ms deltas compress
    * later headers down the fmt ladder: the oracle independently
    * predicts, per container, the chunk counts BY HEADER TYPE
    * (fmt 0/1/2/3 from the spec's compression rules: first message →
    * 0, length change → 1, first equal-length repeat → 2 because the
    * Type-0 timestamp doubles as the implied delta, then → 3),
    * extended-field count, the Set Chunk Size message, the exact
    * stream byte length, and every reassembled timestamp and payload
    * md5. Scale: the m16–m30 per-container mapGroups shape — one
    * group per container, bytes never at the driver. */
  private def m31(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Rtmp
    import graft.sources.Rtmp.RtmpMessage
    val Base = 20000000L // > 2^24 ms: forces the extended-ts sentinel
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val msgs = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          val payload = (md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8"))
            * (1 + (r._3 % 3)).toInt).getBytes("US-ASCII")
          val (csid, tid, step) =
            if (trk == 1) (6, Rtmp.TypeVideo, 33L) else (4, Rtmp.TypeAudio, 32L)
          (RtmpMessage(csid, 1L, tid, Base + i * step, payload), trk)
        }
      }.sortBy { case (m, trk) => (m.tsMs, trk) }.map(_._1)
      val bytes = Rtmp.mux(msgs, chunkSize = 48)
      val (dec, stats) = Rtmp.demux(bytes)
      // the demux must reassemble EXACTLY what was muxed — framing,
      // header decompression and split-message reassembly round-trip
      require(dec.size == msgs.size, s"message count ${dec.size}/${msgs.size}")
      msgs.zip(dec).foreach { case (a, b) =>
        require(a.csid == b.csid && a.streamId == b.streamId &&
          a.typeId == b.typeId && a.tsMs == b.tsMs &&
          java.util.Arrays.equals(a.payload, b.payload),
          s"round-trip mismatch on container $k")
      }
      dec.zipWithIndex.map { case (m, i) =>
        (k, i.toLong,
          if (m.typeId == Rtmp.TypeVideo) "video" else "audio",
          m.tsMs, md5Hex(m.payload),
          stats.fmt0, stats.fmt1, stats.fmt2, stats.fmt3,
          stats.ext, stats.setChunkSize, bytes.length.toLong)
      }
    }.toDF("container", "msg_idx", "kind", "ts_ms", "payload_md5",
        "f0", "f1", "f2", "f3", "ext", "setcs", "blen")
      .orderBy(col("container"), col("msg_idx"))
  }

  private val m31Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id, i,
      |          20000000 + CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          32 * (1 + event_id % 3) AS plen,
      |          repeat(md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR), CAST(1 + event_id % 3 AS INT)) AS payload
      |        FROM k),
      |-- the mux compression ladder on this fixture: first message on a
      |-- chunk stream -> fmt0; length change -> fmt1; the first
      |-- equal-length repeat -> fmt2 (its 32/33ms delta differs from the
      |-- fmt0 timestamp, which doubles as the implied delta); later
      |-- equal-length repeats -> fmt3 (constant per-track delta)
      |fmt AS (SELECT *,
      |          CASE WHEN i = 0 THEN 0
      |               WHEN plen <> lag(plen) OVER w THEN 1
      |               WHEN i = 1 THEN 2
      |               ELSE 3 END AS fmt,
      |          CAST(ceil(plen / 48.0) AS BIGINT) AS chunks
      |        FROM blk WINDOW w AS (PARTITION BY container, track ORDER BY i)),
      |-- ext fields: every fmt0 header (abs ts > 0xFFFFFF) plus the
      |-- continuation chunks of THAT message (sentinel repeats until the
      |-- next fmt1/2 header clears it); byte length adds 1B basic header
      |-- per chunk, the 11/7/3/0 message header, 4B per ext field, the
      |-- payload, and the 16B Set Chunk Size control message
      |stats AS (SELECT container,
      |    SUM(CASE WHEN fmt = 0 THEN 1 ELSE 0 END) AS f0h,
      |    SUM(CASE WHEN fmt = 1 THEN 1 ELSE 0 END) AS f1,
      |    SUM(CASE WHEN fmt = 2 THEN 1 ELSE 0 END) AS f2,
      |    SUM(CASE WHEN fmt = 3 THEN 1 ELSE 0 END) + SUM(chunks - 1) AS f3,
      |    SUM(CASE WHEN fmt = 0 THEN chunks ELSE 0 END) AS ext,
      |    SUM(chunks) + SUM(CASE fmt WHEN 0 THEN 11 WHEN 1 THEN 7
      |                               WHEN 2 THEN 3 ELSE 0 END)
      |      + 4 * SUM(CASE WHEN fmt = 0 THEN chunks ELSE 0 END)
      |      + SUM(plen) AS dbytes
      |  FROM fmt GROUP BY container),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY container
      |          ORDER BY ts_ms, track) - 1 AS msg_idx FROM fmt)
      |SELECT o.container, CAST(o.msg_idx AS BIGINT) AS msg_idx,
      |  CASE WHEN o.track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(o.ts_ms AS BIGINT) AS ts_ms, md5(o.payload) AS payload_md5,
      |  CAST(s.f0h + 1 AS BIGINT) AS f0, CAST(s.f1 AS BIGINT) AS f1,
      |  CAST(s.f2 AS BIGINT) AS f2, CAST(s.f3 AS BIGINT) AS f3,
      |  CAST(s.ext AS BIGINT) AS ext, CAST(1 AS BIGINT) AS setcs,
      |  CAST(16 + s.dbytes AS BIGINT) AS blen
      |FROM ord o JOIN stats s USING (container)
      |ORDER BY container, msg_idx""".stripMargin

  /** m32: AMF0 stream metadata through the chunk stream
    * ([[graft.sources.Amf]] over [[graft.sources.Rtmp]]) — a live
    * publish opens with an `onMetaData` DATA message (RTMP type 18)
    * whose AMF0 string + ECMA array libav parses for stream
    * configuration when the reference opens an `rtmp://` source
    * (media/container.py:38-116). Per container, fixture-derived
    * metadata (duration, sample rate, stereo flag, mean |amplitude|)
    * is AMF0-encoded, muxed as the leading type-18 message ahead of
    * the c14 PCM blocks, demuxed back, DECODED, and byte-compared to
    * the encoder's output; the emitted row carries the decoded values
    * so the oracle's independent recomputation (plus the spec-derived
    * 88-byte AMF payload length and the message count) pins the
    * encode∘decode fixpoint. Scale: one mapGroups per container. */
  private def m32(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Amf, Rtmp}
    import graft.sources.Amf._
    import graft.sources.Rtmp.RtmpMessage
    sortedKernel(pcmClicks(s, d, 16), "key") { (k, it) =>
      val xs = it.map(_._2).toArray
      val sumAbs = xs.map(v => math.abs(v).toLong).sum
      val meta = Amf.encode(Seq(AmfString("onMetaData"), AmfEcmaArray(Seq(
        "duration" -> AmfNumber(xs.length / 1000.0),
        "samplerate" -> AmfNumber(1000.0),
        "stereo" -> AmfBoolean(false),
        "avgabs" -> AmfNumber(sumAbs.toDouble / xs.length)))))
      val audio = xs.grouped(50).zipWithIndex.map { case (blk, b) =>
        RtmpMessage(4, 1L, Rtmp.TypeAudio, 50L * b,
          graft.sources.Wav.pcm16(blk))
      }.toSeq
      val msgs = RtmpMessage(4, 1L, 18, 0L, meta) +: audio
      val bytes = Rtmp.mux(msgs)
      val (dec, _) = Rtmp.demux(bytes)
      require(dec.size == msgs.size && dec.head.typeId == 18 &&
        java.util.Arrays.equals(dec.head.payload, meta),
        s"metadata message round-trip on container $k")
      // the row carries what the DECODER read back, not the inputs
      val (dur, rate, stereo, avg) = Amf.decode(dec.head.payload) match {
        case Seq(AmfString("onMetaData"), AmfEcmaArray(es)) =>
          val m = es.toMap
          (m("duration").asInstanceOf[AmfNumber].v,
            m("samplerate").asInstanceOf[AmfNumber].v,
            m("stereo").asInstanceOf[AmfBoolean].v,
            m("avgabs").asInstanceOf[AmfNumber].v)
        case other => sys.error(s"unexpected AMF shape: $other")
      }
      Iterator.single(
        (k, dur, rate, stereo, avg, meta.length.toLong, msgs.size.toLong))
    }.toDF("container", "duration", "samplerate", "stereo", "avgabs",
        "amf_len", "n_msgs")
      .orderBy(col("container"))
  }

  private val m32Sql =
    """WITH s AS (SELECT user_id % 16 AS c,
      |    least(greatest(CAST(round(value * 100) AS INT), -32768), 32767) AS x
      |  FROM events WHERE event_type = 'click'),
      |agg AS (SELECT c, count(*) AS nc, sum(abs(x)) AS sa FROM s GROUP BY c)
      |-- AMF payload length is spec arithmetic: 13 ("onMetaData" string)
      |-- + 5 (ECMA header) + 19/21/10/17 (duration, samplerate, stereo,
      |-- avgabs entries) + 3 (end marker) = 88
      |SELECT c AS container,
      |  CAST(nc AS DOUBLE) / 1000.0 AS duration,
      |  CAST(1000.0 AS DOUBLE) AS samplerate,
      |  FALSE AS stereo,
      |  CAST(sa AS DOUBLE) / CAST(nc AS DOUBLE) AS avgabs,
      |  CAST(88 AS BIGINT) AS amf_len,
      |  CAST(1 + ceil(nc / 50.0) AS BIGINT) AS n_msgs
      |FROM agg ORDER BY container""".stripMargin

  /** m35: the CLASSIC (non-fragmented) MP4 layout — moov sample
    * tables instead of moof fragments ([[graft.sources.IsoBmff]]
    * `muxFlat`/`demuxFlat`). The reference's plain `"mp4"` audio
    * container tests (tests/media/test_containers.py:26-27) go
    * through libav's regular moov muxer, not fMP4 — so the family
    * needs both layouts. Same timeline as m25; the trace reads the
    * PHYSICAL tables back from the file: per sample its 1-based
    * index, its chunk (stsc expansion), the chunk's absolute stco
    * offset, the stts-chained dts, duration, stss keyframe flag and
    * payload md5 — and the oracle predicts all of it from the layout
    * arithmetic (chunks of ≤8 consecutive per-track samples,
    * interleaved globally by (first dts, track); every payload is a
    * 32-byte md5 tag; mdat body starts at byte 32 = ftyp(24) + mdat
    * header(8)). A drift in chunking, interleave order, table
    * encoding or offset math breaks the hash; the decode identity is
    * proven in-kernel by a loud demuxFlat round-trip compare.
    *
    * Scale: one mapGroups kernel per container, same as m25. */
  private def m35(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.IsoBmff
    import graft.sources.IsoBmff.{Mp4Sample, Mp4Track}
    val tracks = Seq(
      Mp4Track(1, "video", "grft", width = 64, height = 48),
      Mp4Track(2, "audio", "gpcm", sampleRate = 16000, channels = 1))
    sortedKernel(trackEvents(s, d), "container") { (k, it) =>
      val samples = it.toArray.groupBy(_._2).toSeq.flatMap { case (trk, evs) =>
        evs.zipWithIndex.map { case (r, i) =>
          Mp4Sample(trk, if (trk == 1) i * 33L else i * 32L,
            dur = if (trk == 1) 33L else 32L,
            keyframe = trk == 2 || r._3 % 4 == 0,
            md5Hex(s"$k:$trk:${r._3}".getBytes("UTF-8")).getBytes("US-ASCII"))
        }
      }.sortBy(sm => (sm.dts, sm.track))
      val present = tracks.filter(t => samples.exists(_.track == t.id))
      val bytes = IsoBmff.muxFlat(present, samples, chunkMax = 8)
      // loud decode-identity proof (the table trace below is the gate)
      val (gotT, got) = IsoBmff.demuxFlat(bytes)
      require(gotT == present, s"container $k: track metadata drift")
      present.foreach { t =>
        val in = samples.filter(_.track == t.id)
        val out = got.filter(_.track == t.id)
        require(in.length == out.length && in.zip(out).forall { case (a, b) =>
          a.dts == b.dts && a.dur == b.dur && a.keyframe == b.keyframe &&
            java.util.Arrays.equals(a.payload, b.payload) },
          s"container $k track ${t.id}: classic round-trip drift")
      }
      // per-sample (chunk, offset) from the physical stsc/stco tables
      val moov = IsoBmff.boxes(bytes, 0, bytes.length)
        .find(_.kind == "moov").get
      val chunkOf: Map[Int, IndexedSeq[(Long, Long)]] =
        IsoBmff.boxes(moov.data, 0, moov.data.length)
          .filter(_.kind == "trak").map { tk =>
            val els = IsoBmff.boxes(tk.data, 0, tk.data.length)
            val tid = IsoBmff.readU32(
              els.find(_.kind == "tkhd").get.data, 12).toInt
            val mdia = els.find(_.kind == "mdia").get
            val minf = IsoBmff.boxes(mdia.data, 0, mdia.data.length)
              .find(_.kind == "minf").get
            val stbl = IsoBmff.boxes(minf.data, 0, minf.data.length)
              .find(_.kind == "stbl").get
            val st = IsoBmff.boxes(stbl.data, 0, stbl.data.length)
            val stco = st.find(_.kind == "stco").get.data
            val offs = (0 until IsoBmff.readU32(stco, 4).toInt)
              .map(i => IsoBmff.readU32(stco, 8 + i * 4))
            val stsc = st.find(_.kind == "stsc").get.data
            val runs = (0 until IsoBmff.readU32(stsc, 4).toInt).map { r =>
              (IsoBmff.readU32(stsc, 8 + r * 12),
                IsoBmff.readU32(stsc, 12 + r * 12))
            }
            tid -> offs.indices.flatMap { ci =>
              val spc = runs.reverse.find(_._1 <= ci + 1).get._2
              Seq.fill(spc.toInt)((ci + 1L, offs(ci)))
            }
          }.toMap
      present.flatMap { t =>
        got.filter(_.track == t.id).zipWithIndex.map { case (sm, i) =>
          val (chunkIdx, chunkOff) = chunkOf(t.id)(i)
          (k, t.id.toLong, t.kind, (i + 1).toLong, chunkIdx, chunkOff,
            sm.dts, sm.dur, sm.keyframe, md5Hex(sm.payload))
        }
      }
    }.toDF("container", "track", "kind", "sample_i", "chunk_idx",
        "chunk_off", "ts_ms", "dur", "keyframe", "payload_md5")
      .orderBy(col("container"), col("track"), col("sample_i"))
  }

  private val m35Sql =
    s"""$trackIdx
      |blk AS (SELECT container, track, event_id, i,
      |          CASE WHEN track = 1 THEN i * 33 ELSE i * 32 END AS ts_ms,
      |          CASE WHEN track = 1 THEN 33 ELSE 32 END AS dur,
      |          (track = 2 OR event_id % 4 = 0) AS keyframe,
      |          md5(container::VARCHAR || ':' || track::VARCHAR || ':'
      |              || event_id::VARCHAR) AS payload
      |        FROM k),
      |ch AS (SELECT container, track, i // 8 AS c, min(ts_ms) AS first_ts,
      |         CAST(count(*) AS BIGINT) AS n
      |       FROM blk GROUP BY container, track, i // 8),
      |cho AS (SELECT *,
      |    32 + 32 * COALESCE(sum(n) OVER (PARTITION BY container
      |      ORDER BY first_ts, track
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS chunk_off
      |  FROM ch)
      |SELECT b.container, CAST(b.track AS BIGINT) AS track,
      |  CASE WHEN b.track = 1 THEN 'video' ELSE 'audio' END AS kind,
      |  CAST(b.i + 1 AS BIGINT) AS sample_i,
      |  CAST(c.c + 1 AS BIGINT) AS chunk_idx,
      |  CAST(c.chunk_off AS BIGINT) AS chunk_off,
      |  CAST(b.ts_ms AS BIGINT) AS ts_ms, CAST(b.dur AS BIGINT) AS dur,
      |  b.keyframe, md5(b.payload) AS payload_md5
      |FROM blk b JOIN cho c ON b.container = c.container
      |  AND b.track = c.track AND b.i // 8 = c.c
      |ORDER BY b.container, b.track, sample_i""".stripMargin

  /** m36: the COMPOSED CODED-VIDEO leg — GVC ([[graft.functions.Gvc]]:
    * m28's motion-compensated inter loop + block-raster intra
    * prediction + p13's Rice entropy coder, framed as Annex-B NALs
    * with an SPS) encoded, MUXED through the classic moov MP4 layout
    * (m35's `muxFlat` — a playable-shape .mp4 whose samples are the
    * coded frames, keyframe flag on the IDR), DEMUXED back, and
    * DECODED — the reference's inverse-transcode intent for its video
    * codecs (tests/media/test_video_codec.py:14-43, h264-in-mp4
    * through libav) re-expressed with the engine's own bitstream. The
    * oracle re-derives EVERYTHING in SQL from the shared md5 frame
    * synthesis: the 49-candidate SAD argmin (m28's search), each
    * block's residuals (motion for P, block-raster lag-prediction for
    * I), the optimal Rice parameter as an integer cost argmin over
    * k ∈ 0..7, and from those the EXACT payload byte size of every
    * coded frame — so the hash gate pins the entropy coder's bit
    * budget and the container round trip, while frame_sum pins the
    * decoded pixels (q = 1 ⇒ lossless ⇒ sums equal the synthesized
    * frames'). Scale: one per-container mapGroups kernel, frames
    * capped at 24 — identical envelope to m27/m28. */
  private[operators] object GvcKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, String, Long, Long)] = {
      import graft.functions.Gvc
      import graft.sources.IsoBmff
      val fs = MotionKernel.frameSeq(k, count)
      if (fs.isEmpty) return Iterator.empty
      val cfg = Gvc.Config(16, 16, 8, range = 3, q = 1)
      val packets = Gvc.encode(fs, cfg)
      val track = Seq(IsoBmff.Mp4Track(1, "video", "gvc1",
        width = 16, height = 16))
      val samples = packets.zipWithIndex.map { case (p, i) =>
        IsoBmff.Mp4Sample(1, i * 33L, 33L, keyframe = i == 0, p) }
      val (_, rec) = IsoBmff.demuxFlat(IsoBmff.muxFlat(track, samples))
      val (cfg2, dec) = Gvc.decode(rec.map(_.payload))
      require(cfg2 == cfg, s"container $k: SPS drift through the mp4")
      require(dec.length == fs.length,
        s"container $k: ${dec.length} decoded frames vs ${fs.length}")
      dec.indices.iterator.map { t =>
        (k, t.toLong, if (t == 0) "I" else "P",
          rec(t).payload.length.toLong, dec(t).map(_.toLong).sum)
      }
    }
  }

  private def m36(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(GvcKernel.rows)
      .toDF("container", "t", "frame_type", "payload_bytes", "frame_sum")
      .orderBy(col("container"), col("t"))
  }

  /** m36 oracle: m28's frame synthesis + SAD argmin, extended with
    * the residual extraction (motion for P, per-block lag-128 chain
    * for I), zigzag, the k ∈ 0..7 Rice cost argmin, and the exact
    * Annex-B/NAL byte accounting: I payload = 4 (start code) + 8
    * (SPS) + 4 + 1 + ⌈Σ(3+cost)/8⌉; P payload = 4 + 1 + ⌈Σ(9+cost)/8⌉
    * (per block: 3+3 MV bits + 3 k bits). */
  private val m36Sql =
    s"""${viewCnt(24)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |steps AS (SELECT container, t,
      |    CAST(concat('0x', substr(md5('dx' || container || '_' || t), 1, 2)) AS BIGINT) % 7 - 3 AS dx,
      |    CAST(concat('0x', substr(md5('dy' || container || '_' || t), 1, 2)) AS BIGINT) % 7 - 3 AS dy
      |  FROM frames WHERE t >= 1),
      |cum AS (SELECT f.container, f.t,
      |    COALESCE((SELECT sum(s.dx) FROM steps s
      |              WHERE s.container = f.container AND s.t <= f.t), 0) AS cumx,
      |    COALESCE((SELECT sum(s.dy) FROM steps s
      |              WHERE s.container = f.container AND s.t <= f.t), 0) AS cumy,
      |    CAST(concat('0x', substr(md5('sx' || f.container || '_' || f.t), 1, 2)) AS BIGINT) % 16 AS sx,
      |    CAST(concat('0x', substr(md5('sy' || f.container || '_' || f.t), 1, 2)) AS BIGINT) % 16 AS sy
      |  FROM frames f),
      |pix AS MATERIALIZED (SELECT c.container, c.t, g.x, g.y,
      |    (CAST(concat('0x', substr(md5('mc' || c.container || '_'
      |        || ((g.x + c.cumx) % 16 + 16) % 16 || '_'
      |        || ((g.y + c.cumy) % 16 + 16) % 16), 1, 2)) AS BIGINT)
      |     + CASE WHEN g.x = c.sx AND g.y = c.sy THEN 40 ELSE 0 END) % 256
      |      AS v
      |  FROM cum c, (SELECT a.x, b.y FROM
      |    (SELECT unnest(range(16)) AS x) a,
      |    (SELECT unnest(range(16)) AS y) b) g),
      |cand AS (SELECT a.u, b.w FROM
      |  (SELECT unnest(generate_series(-3, 3)) AS u) a,
      |  (SELECT unnest(generate_series(-3, 3)) AS w) b),
      |sads AS (SELECT cur.container, cur.t,
      |    (cur.y // 8) * 2 + (cur.x // 8) AS block, cand.u, cand.w,
      |    sum(abs(cur.v - prev.v)) AS sad
      |  FROM pix cur
      |  CROSS JOIN cand
      |  JOIN pix prev ON prev.container = cur.container
      |    AND prev.t = cur.t - 1
      |    AND prev.x = ((cur.x + cand.u) % 16 + 16) % 16
      |    AND prev.y = ((cur.y + cand.w) % 16 + 16) % 16
      |  GROUP BY 1, 2, 3, 4, 5),
      |best AS (SELECT container, t, block, u, w FROM (
      |    SELECT *, row_number() OVER (PARTITION BY container, t, block
      |      ORDER BY sad, w, u) AS rn FROM sads)
      |  WHERE rn = 1),
      |presid AS (SELECT cur.container, cur.t,
      |    (cur.y // 8) * 2 + (cur.x // 8) AS block, cur.v - prev.v AS r
      |  FROM pix cur
      |  JOIN best b ON b.container = cur.container AND b.t = cur.t
      |    AND b.block = (cur.y // 8) * 2 + (cur.x // 8)
      |  JOIN pix prev ON prev.container = cur.container
      |    AND prev.t = cur.t - 1
      |    AND prev.x = ((cur.x + b.u) % 16 + 16) % 16
      |    AND prev.y = ((cur.y + b.w) % 16 + 16) % 16
      |  WHERE cur.t >= 1),
      |iresid AS (SELECT container, CAST(0 AS BIGINT) AS t,
      |    (y // 8) * 2 + (x // 8) AS block,
      |    v - COALESCE(lag(v) OVER (
      |      PARTITION BY container, (y // 8) * 2 + (x // 8)
      |      ORDER BY y, x), 128) AS r
      |  FROM pix WHERE t = 0),
      |resid AS (SELECT container, t, block,
      |    CASE WHEN r < 0 THEN -2 * r - 1 ELSE 2 * r END AS z
      |  FROM (SELECT * FROM presid UNION ALL SELECT * FROM iresid)),
      |kcost AS (SELECT container, t, block, kk.k,
      |    sum(z // (1 << kk.k)) + 64 * (1 + kk.k) AS cost
      |  FROM resid, (SELECT unnest(range(8)) AS k) kk
      |  GROUP BY 1, 2, 3, 4),
      |bcost AS (SELECT container, t, block, min(cost) AS minc
      |  FROM kcost GROUP BY 1, 2, 3),
      |fbits AS (SELECT container, t,
      |    sum(CASE WHEN t = 0 THEN 3 ELSE 9 END + minc) AS bits
      |  FROM bcost GROUP BY 1, 2),
      |fsum AS (SELECT container, t, CAST(sum(v) AS BIGINT) AS frame_sum
      |  FROM pix GROUP BY 1, 2)
      |SELECT b.container, CAST(b.t AS BIGINT) AS t,
      |  CASE WHEN b.t = 0 THEN 'I' ELSE 'P' END AS frame_type,
      |  CAST(CASE WHEN b.t = 0 THEN 17 ELSE 5 END
      |    + (b.bits + 7) // 8 AS BIGINT) AS payload_bytes,
      |  s.frame_sum
      |FROM fbits b JOIN fsum s ON b.container = s.container AND b.t = s.t
      |ORDER BY b.container, b.t""".stripMargin

  /** m37: H.264 NAL/SPS/slice-header INDEXING over a real MP4 — the
    * layer a 100 TB video-curation pipeline actually reads from
    * h264-in-mp4 (resolution, profile GOP structure, keyframe index,
    * frame numbers), parsed from spec-conformant bits
    * ([[graft.sources.H264]], ITU-T H.264 §7.3: Exp-Golomb, emulation
    * prevention, SPS with 4:2:0 crop arithmetic — 44×28 forces
    * right+bottom crop — PPS-gated slice syntax, AVCC length
    * prefixes) after a classic-MP4 mux→demux round trip. The oracle
    * recomputes every field from the GOP arithmetic and every SAMPLE
    * BYTE SIZE from the spec's own bit accounting (ue/u lengths +
    * rbsp_trailing_bits + NAL headers + AVCC prefixes), so a drift in
    * any written or parsed bit width breaks the hash. Scale: one
    * mapGroups kernel per container, the m28/m36 envelope. */
  private[operators] object H264Kernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Boolean, Long, Long, Long, Long, Long)] = {
      import graft.sources.{H264, IsoBmff}
      val n = math.min(24, count)
      if (n < 2) return Iterator.empty
      val sps = H264.writeSps(44, 28) // 3×2 mb grid, cropR=2, cropB=2
      val pps = H264.writePps()
      val spsP = H264.parseSps(sps)
      val ppsP = H264.parsePps(pps)
      val samples = (0 until n).map { t =>
        val idr = t % 4 == 0
        val slice = H264.writeSliceHeader(idr, if (idr) 7 else 5,
          frameNum = t % 4, spsP, ppsP)
        val payload =
          if (idr) H264.avccSample(Seq(sps, pps, slice))
          else H264.avccSample(Seq(slice))
        IsoBmff.Mp4Sample(1, t * 33L, 33L, keyframe = idr, payload)
      }
      val track = Seq(IsoBmff.Mp4Track(1, "video", "avc1",
        width = 44, height = 28))
      val (_, rec) = IsoBmff.demuxFlat(IsoBmff.muxFlat(track, samples))
      var actSps: H264.Sps = null
      var actPps: H264.Pps = null
      rec.iterator.zipWithIndex.map { case (sm, t) =>
        val nals = H264.splitAvcc(sm.payload)
        var si: H264.SliceInfo = null
        nals.foreach { nb =>
          H264.nalType(nb) match {
            case H264.NalSps => actSps = H264.parseSps(nb)
            case H264.NalPps => actPps = H264.parsePps(nb)
            case _ => si = H264.parseSliceHeader(nb, actSps, actPps)
          }
        }
        require(si != null, s"container $k sample $t carries no slice")
        (k, t.toLong, si.nalUnitType.toLong, si.idr, si.sliceType.toLong,
          si.frameNum.toLong, actSps.width.toLong, actSps.height.toLong,
          sm.payload.length.toLong)
      }
    }
  }

  private def m37(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264Kernel.rows)
      .toDF("container", "t", "nal_type", "is_idr", "slice_type",
        "frame_num", "width", "height", "sample_bytes")
      .orderBy(col("container"), col("t"))
  }

  private val m37Sql =
    s"""${viewCnt(24)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t))
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(CASE WHEN t % 4 = 0 THEN 5 ELSE 1 END AS BIGINT) AS nal_type,
      |  (t % 4 = 0) AS is_idr,
      |  CAST(CASE WHEN t % 4 = 0 THEN 7 ELSE 5 END AS BIGINT) AS slice_type,
      |  CAST(t % 4 AS BIGINT) AS frame_num,
      |  CAST(44 AS BIGINT) AS width, CAST(28 AS BIGINT) AS height,
      |  -- spec bit accounting (H.264 sect 7.3): SPS rbsp = 24 fixed +
      |  -- ue(0)x4 + ue(2)x3 + ue(1)x2 + u(1)x5 = 51 bits + trailing ->
      |  -- 7 B (+1 NAL hdr = 8); PPS = 16 bits + stop -> 3 B (+1 = 4);
      |  -- IDR slice hdr = 1+7+1+4+1+2+1 = 17 + stop -> 3 B (+1 = 4);
      |  -- P slice hdr = 1+5+1+4+1+1+1+1 = 15 + stop -> 2 B (+1 = 3);
      |  -- AVCC adds a 4 B length per NAL:
      |  -- IDR sample = (4+8)+(4+4)+(4+4) = 28; P sample = 4+3 = 7
      |  CAST(CASE WHEN t % 4 = 0 THEN 28 ELSE 7 END AS BIGINT)
      |    AS sample_bytes
      |FROM frames ORDER BY container, t""".stripMargin

  /** m38: VP8-in-IVF indexing ([[graft.sources.Ivf]] — the libvpx IVF
    * container + RFC 6386 §9.1 frame tags with the 9D 01 2A keyframe
    * start code and 14-bit dimensions), completing the real-bitstream
    * indexing matrix over the reference's own codec list: h264 (m37),
    * aac/mp3 (p15), opus (p16) and now vp8
    * (tests/media/test_containers.py:25 runs vp8-in-webm through
    * libav; the frame tag parsed here is the same bitstream layout
    * WebM blocks carry). The oracle recomputes every tag field from
    * the GOP arithmetic and every byte offset from the IVF framing
    * (32-byte header + 12-byte frame headers + tag/keyheader/body
    * sizes). Scale: per-container mapGroups, the m37 envelope. */
  private[operators] object Vp8Kernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Boolean, Long, Boolean, Long, Long, Long, Long)] = {
      import graft.sources.Ivf
      val n = math.min(24, count)
      if (n < 2) return Iterator.empty
      val frames = (0 until n).map { t =>
        val key = t % 6 == 0
        val body = Array.tabulate(10 + (t * 3) % 40)(j =>
          ((k + t * 13 + j) & 0xff).toByte)
        Ivf.IvfFrame(t.toLong,
          Ivf.vp8Frame(key, version = t % 4, showFrame = t % 6 != 3,
            width = 320, height = 180, body))
      }
      val bytes = Ivf.mux(Ivf.IvfHeader("VP80", 320, 180, 30, 1,
        n.toLong), frames)
      val (hdr, rec) = Ivf.demux(bytes)
      require(hdr.fourcc == "VP80" && hdr.frameCount == n,
        s"container $k: IVF header drift")
      rec.iterator.zipWithIndex.map { case ((off, f), t) =>
        val tag = Ivf.parseVp8Tag(f.payload)
        (k, t.toLong, off, tag.keyframe, tag.version.toLong,
          tag.showFrame, tag.firstPartSize.toLong, tag.width.toLong,
          tag.height.toLong, f.pts)
      }
    }
  }

  private def m38(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8Kernel.rows)
      .toDF("container", "t", "offset", "keyframe", "version",
        "show_frame", "part_size", "width", "height", "pts")
      .orderBy(col("container"), col("t"))
  }

  private val m38Sql =
    s"""${viewCnt(24)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- per-frame sizes from the fixture + framing arithmetic:
      |-- body = 10 + (3t mod 40); payload = 3-byte tag (+7 keyframe
      |-- header when t mod 6 = 0) + body; IVF adds a 12-byte frame
      |-- header and the 32-byte file header
      |sz AS (SELECT container, t,
      |    (t % 6 = 0) AS keyframe,
      |    10 + (t * 3) % 40 AS body,
      |    3 + (CASE WHEN t % 6 = 0 THEN 7 ELSE 0 END)
      |      + 10 + (t * 3) % 40 AS payload
      |  FROM frames)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(32 + COALESCE(sum(12 + payload) OVER (PARTITION BY container
      |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS "offset",
      |  keyframe,
      |  CAST(t % 4 AS BIGINT) AS version,
      |  (t % 6 != 3) AS show_frame,
      |  -- RFC 6386: the size field counts only the first COMPRESSED
      |  -- partition; the tag and keyframe header are uncompressed
      |  CAST(body AS BIGINT) AS part_size,
      |  CAST(CASE WHEN keyframe THEN 320 ELSE 0 END AS BIGINT) AS width,
      |  CAST(CASE WHEN keyframe THEN 180 ELSE 0 END AS BIGINT) AS height,
      |  CAST(t AS BIGINT) AS pts
      |FROM sz ORDER BY container, t""".stripMargin

  /** m39: VP8-IN-WEBM indexing — the reference's ACTUAL vp8 pairing
    * (tests/media/test_containers.py:25 runs vp8 through a webm
    * container): m38's RFC 6386 frame tags carried as V_VP8 blocks in
    * the engine's real Matroska/EBML container, with the container's
    * keyframe flag cross-checked against the BITSTREAM's frame_type
    * bit per block (the invariant real muxers must maintain and real
    * indexers rely on: seeking trusts the container flag, decoding
    * trusts the tag). Oracle: GOP arithmetic for both flag sources +
    * dimensions on keyframes. Scale: per-container mapGroups, the
    * m19/m38 envelope. */
  private[operators] object WebmVp8Kernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Boolean, Long, Long, Long)] = {
      import graft.sources.{Ivf, Mkv}
      val n = math.min(24, count)
      if (n < 2) return Iterator.empty
      val blocks = (0 until n).map { t =>
        val key = t % 5 == 0
        val body = Array.tabulate(8 + (t * 5) % 30)(j =>
          ((k * 3 + t * 11 + j) & 0xff).toByte)
        Mkv.MkvBlock(1, t * 33L, key,
          Ivf.vp8Frame(key, version = t % 4, showFrame = true,
            width = 640, height = 360, body))
      }
      val tracks = Seq(Mkv.MkvTrack(1, "video", "V_VP8",
        width = 640, height = 360))
      val (_, rec) = Mkv.demux(Mkv.mux(tracks, blocks))
      require(rec.size == n, s"container $k: block count drift")
      rec.iterator.zipWithIndex.map { case (b, t) =>
        val tag = Ivf.parseVp8Tag(b.payload)
        require(tag.keyframe == b.keyframe,
          s"container $k block $t: container keyframe flag " +
            s"${b.keyframe} disagrees with the bitstream ${tag.keyframe}")
        (k, t.toLong, b.tsMs, tag.keyframe, tag.version.toLong,
          tag.width.toLong, tag.height.toLong)
      }
    }
  }

  private def m39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(WebmVp8Kernel.rows)
      .toDF("container", "t", "ts_ms", "keyframe", "version",
        "width", "height")
      .orderBy(col("container"), col("t"))
  }

  private val m39Sql =
    s"""${viewCnt(24)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t))
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(t * 33 AS BIGINT) AS ts_ms,
      |  (t % 5 = 0) AS keyframe,
      |  CAST(t % 4 AS BIGINT) AS version,
      |  CAST(CASE WHEN t % 5 = 0 THEN 640 ELSE 0 END AS BIGINT) AS width,
      |  CAST(CASE WHEN t % 5 = 0 THEN 360 ELSE 0 END AS BIGINT) AS height
      |FROM frames ORDER BY container, t""".stripMargin

  /** m40: VP8 KEY-FRAME PAYLOAD DECODE ([[graft.functions.Vp8]] —
    * RFC 6386's normative bool-coded keyframe: §9 header syntax, §11
    * mode trees, §13 token trees with category extra bits and the
    * nonzero-context planes, §14.3 inverse WHT, §14.4 inverse DCT,
    * §12.2 intra predictors), closing the seam m38/m39 left open: those
    * index VP8 frame TAGS; this decodes the compressed PAYLOAD back to
    * pixels. Fixture: per container, 6 IVF-wrapped 32×32 keyframes, all
    * macroblocks V_PRED with a single Y2-DC level v per MB (so every
    * layer — two bool partitions, Y2→WHT→Y-DC plumbing, token
    * categories up to cat6, IDCT, prediction chaining down MB columns —
    * runs on real coded bytes while the reconstruction stays in closed
    * form: at qindex 0 the y2dc factor is 8, so each MB contributes a
    * uniform (v+4)>>3 down its macroblock column from the 127 top
    * edge). The oracle replays the whole integer readout: the md5 level
    * draw, the (v+4)//8 residual, the per-column cumulative sum, the
    * 256-pixel luma aggregation, and the flat-128 chroma (DC_PRED with
    * zero residual). Vp8Spec carries the general-decode properties
    * (random modes/levels/qindex round-trips) that no SQL oracle can
    * express. Scale: per-container mapGroups, the m38 envelope —
    * decode cost is bytes-proportional and data-parallel. */
  private[operators] object Vp8DecodeKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.Ivf
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val frames = (0 until n).map { t =>
        val mbs = mbGrid((j, c) =>
          vp8KeyMb(1 + hexbyte(s"vp8${k}_${t}_${j}_${c}") % 100))
        Vp8.KeyFrame(32, 32, 0, mbs)
      }
      val ivf = Ivf.mux(Ivf.IvfHeader("VP80", 32, 32, 30, 1, n.toLong),
        frames.zipWithIndex.map { case (f, t) =>
          Ivf.IvfFrame(t.toLong, Vp8.encode(f)) })
      val (hdr, rec) = Ivf.demux(ivf)
      require(hdr.frameCount == n, s"container $k: IVF header drift")
      rec.iterator.zipWithIndex.map { case ((_, fr), t) =>
        val dec = Vp8.decode(fr.payload)
        require(dec.frame.width == 32 && dec.frame.height == 32 &&
          dec.frame.qindex == 0,
          s"container $k frame $t: decoded header drift")
        (k, t.toLong, 32L, 32L,
          dec.frame.mbs.iterator.map(_.y2(0).toLong).sum,
          dec.y.iterator.map(_.toLong).sum,
          dec.u.iterator.map(_.toLong).sum +
            dec.v.iterator.map(_.toLong).sum)
      }
    }
  }

  /** m41: VP8 B_PRED (4×4 intra) DECODE — the keyframe mode space m40
    * left out, completing RFC 6386 §11.4/§12.3 coverage: per-subblock
    * modes coded against (above, left) neighbor-submode contexts, NO
    * Y2 block (Y blocks carry their own DC as token type 3), and
    * reconstruction INTERLEAVED with prediction in raster order (each
    * 4×4 block predicts from pixels its predecessors just wrote — the
    * data dependence 16×16 modes don't have). Fixture: all-B_PRED
    * frames, every submode B_TM, one own-DC level v ∈ {0,1,2} per 4×4
    * block. TM telescopes over uniform blocks — pred = L + A − AL
    * cancels the shared corner — so the reconstruction is EXACTLY
    * 129 + the 2-D prefix sum of the per-block residuals
    * r = (4v+4)>>3 ∈ {0,1,1} at qindex 0 (bounded by 129+64, no
    * clamping), and the oracle replays the md5 draw plus the closed
    * form luma = 16·(64·129 + Σ r·(8−j)·(8−c)). The general submode
    * space (all ten 4×4 predictors, random levels, context-coded
    * trees) is pinned by Vp8Spec properties. Scale: the m40 envelope. */
  private[operators] object Vp8BpredKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      (0 until n).iterator.map { t =>
        // v per 4x4 block (j, c in the frame's 8x8 subblock grid)
        def vOf(j: Int, c: Int): Int = hexbyte(s"vp8b${k}_${t}_${j}_${c}") % 3
        val mbs = Vector.tabulate(4) { mi =>
          val (mj, mc) = (mi / 2, mi % 2)
          val y = Array.tabulate(16) { b =>
            val blk = new Array[Int](16)
            blk(0) = vOf(mj * 4 + b / 4, mc * 4 + b % 4); blk
          }
          Vp8.MbCoding(Vp8.BPred, Vp8.DcPred, new Array[Int](16), y,
            zeroBlocks(4), zeroBlocks(4), Array.fill(16)(Vp8.BTm))
        }
        val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs)))
        require(dec.frame.mbs.forall(m => m.yMode == Vp8.BPred &&
          m.bModes.forall(_ == Vp8.BTm)),
          s"container $k frame $t: submode drift through the bitstream")
        val levelsSum = dec.frame.mbs.iterator
          .flatMap(_.y.iterator.map(_(0).toLong)).sum
        (k, t.toLong, levelsSum,
          dec.y.iterator.map(_.toLong).sum,
          dec.u.iterator.map(_.toLong).sum +
            dec.v.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m41(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8BpredKernel.rows)
      .toDF("container", "t", "levels_sum", "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m41Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |blk AS (SELECT container, t, grid.j, grid.c,
      |    CAST(concat('0x', substr(md5('vp8b' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) % 3 AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(8)) AS j) a,
      |    (SELECT unnest(range(8)) AS b_c) b(c)) grid),
      |-- B_TM telescopes: recon(j,c) = 129 + 2-D prefix sum of the
      |-- per-block residual r = (4v+4)//8, so summing 16 px per block:
      |-- luma = 16*(64*129 + sum r*(8-j)*(8-c))
      |r AS (SELECT container, t, j, c, v, (4 * v + 4) // 8 AS r FROM blk)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(16 * (64 * 129 + sum(r * (8 - j) * (8 - c))) AS BIGINT)
      |    AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM r GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m42: VP8-IN-WEBM DECODED TO PIXELS — the reference's ACTUAL
    * pairing (tests/media/test_containers.py:25 runs vp8 through webm
    * via libav) end-to-end: m39 indexes V_VP8 frame TAGS in real
    * Matroska; this leg carries COMPLETE coded keyframes
    * ([[graft.functions.Vp8]]) as V_VP8 SimpleBlocks, demuxes the
    * EBML, cross-checks the container keyframe flag against the
    * bitstream frame_type bit (m39's invariant), and DECODES each
    * payload to planes. Fixture/oracle: the m40 V_PRED/Y2-DC closed
    * form under a webm-specific md5 salt — so the hash gate proves
    * the whole chain container → tag → bool-coded header → tokens →
    * WHT/IDCT → prediction for the exact container+codec pairing a
    * reference user holds. Scale: the m40 envelope. */
  private[operators] object WebmVp8DecodeKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.{Ivf, Mkv}
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val blocks = (0 until n).map { t =>
        val mbs = mbGrid((j, c) =>
          vp8KeyMb(1 + hexbyte(s"vp8w${k}_${t}_${j}_${c}") % 100))
        Mkv.MkvBlock(1, t * 33L, keyframe = true,
          Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs)))
      }
      val tracks = Seq(Mkv.MkvTrack(1, "video", "V_VP8",
        width = 32, height = 32))
      val (_, rec) = Mkv.demux(Mkv.mux(tracks, blocks))
      require(rec.size == n, s"container $k: webm block count drift")
      rec.iterator.zipWithIndex.map { case (b, t) =>
        val tag = Ivf.parseVp8Tag(b.payload)
        require(tag.keyframe == b.keyframe,
          s"container $k block $t: container keyframe flag disagrees " +
            "with the bitstream frame_type bit")
        val dec = Vp8.decode(b.payload)
        require(dec.frame.width == 32 && dec.frame.height == 32,
          s"container $k block $t: decoded dimensions drift")
        (k, t.toLong, b.tsMs,
          dec.frame.mbs.iterator.map(_.y2(0).toLong).sum,
          dec.y.iterator.map(_.toLong).sum,
          dec.u.iterator.map(_.toLong).sum +
            dec.v.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(WebmVp8DecodeKernel.rows)
      .toDF("container", "t", "ts_ms", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m42Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    1 + CAST(concat('0x', substr(md5('vp8w' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) % 100 AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |mv AS (SELECT container, t, j, c, v,
      |    127 + sum((v + 4) // 8) OVER (PARTITION BY container, t, c
      |      ORDER BY j) AS val
      |  FROM mb)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(t * 33 AS BIGINT) AS ts_ms,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM mv GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m43: VP8 SIMPLE LOOP FILTER decode leg — §15's in-loop smoothing
    * on real coded frames (filter_type 1, level 18 in the header,
    * round-tripped through the bool-coded bits). Fixture: the m40
    * V_PRED/Y2-DC form with ONE level per MB ROW (both MB columns
    * equal), so every vertical and subblock edge is flat and the ONLY
    * active edge is the horizontal MB edge at y = 16 with a uniform
    * step d = (v1+4)>>3: the §15.2 common adjustment moves row 15 up
    * by f2 = (2d+3)>>3 and row 16 down by f1 = (2d+4)>>3 (threshold
    * 2d + d/2 ≤ 3·18+4 always holds at d ≤ 13). The oracle replays
    * the md5 draw, the residual ladder AND the filter arithmetic:
    * luma = 32·(16u + 16w + f2 − f1). Vp8Spec pins the same kernel on
    * hand-built fixtures incl. the does-not-apply threshold side.
    * Scale: the m40 envelope. */
  private[operators] object Vp8LoopFilterKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      (0 until n).iterator.map { t =>
        val v0 = 1 + hexbyte(s"vp8f${k}_${t}_0") % 100
        // v1 ≤ 40 keeps d ≤ 5 so f1 ≤ 1: the MB(1,1) left-edge pass
        // (which runs between the two top-edge passes and sees a
        // transient col-15/16 step of f1) stays a no-op and the
        // closed form holds on every pixel — Vp8Spec pins both sides
        // of that regime boundary
        val v1 = 1 + hexbyte(s"vp8f${k}_${t}_1") % 40
        val mbs = mbGrid((j, _) => vp8KeyMb(if (j == 0) v0 else v1))
        val dec = Vp8.decode(Vp8.encode(
          Vp8.KeyFrame(32, 32, 0, mbs, filterLevel = 18)))
        require(dec.frame.filterLevel == 18,
          s"container $k frame $t: filter level drift through the header")
        (k, t.toLong,
          dec.frame.mbs.iterator.map(_.y2(0).toLong).sum,
          dec.y.iterator.map(_.toLong).sum,
          dec.u.iterator.map(_.toLong).sum +
            dec.v.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8LoopFilterKernel.rows)
      .toDF("container", "t", "levels_sum", "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m43Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |v AS (SELECT container, t,
      |    1 + CAST(concat('0x', substr(md5('vp8f' || container || '_' || t
      |      || '_0'), 1, 2)) AS BIGINT) % 100 AS v0,
      |    1 + CAST(concat('0x', substr(md5('vp8f' || container || '_' || t
      |      || '_1'), 1, 2)) AS BIGINT) % 40 AS v1
      |  FROM frames),
      |-- u = 127 + (v0+4)//8 fills MB row 0; w = u + d with
      |-- d = (v1+4)//8 fills MB row 1; the simple filter moves row 15
      |-- by +f2 and row 16 by -f1 (2 MBs per row share one level, so
      |-- every other edge is flat and untouched)
      |f AS (SELECT container, t, v0, v1,
      |    127 + (v0 + 4) // 8 AS u, (v1 + 4) // 8 AS d
      |  FROM v)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(2 * (v0 + v1) AS BIGINT) AS levels_sum,
      |  CAST(32 * (16 * u + 16 * (u + d)
      |    + (2 * d + 3) // 8 - (2 * d + 4) // 8) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM f ORDER BY container, t""".stripMargin

  private def m40(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8DecodeKernel.rows)
      .toDF("container", "t", "width", "height", "levels_sum",
        "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m40Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- the per-MB Y2 DC level v, the same md5 draw the kernel codes
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    1 + CAST(concat('0x', substr(md5('vp8' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) % 100 AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |-- decode readout: y2dc = 8 at qindex 0, WHT gives E = v exactly,
      |-- IDCT gives the uniform residual (v+4)//8, V_PRED accumulates it
      |-- down each macroblock column from the 127 frame edge
      |mv AS (SELECT container, t, j, c, v,
      |    127 + sum((v + 4) // 8) OVER (PARTITION BY container, t, c
      |      ORDER BY j) AS val
      |  FROM mb)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  -- DC_PRED chroma with zero residual: both 16x16 planes flat 128
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM mv GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m44: VP8 INTER (P) FRAME DECODE — RFC 6386 §16-§18 through real
    * coded bytes: an IVF stream of one keyframe + P-frames whose MBs
    * are all ZEROMV with a Y2-DC residual, decoded frame-by-frame
    * against the LAST reference (interframe header with
    * refresh/copy/sign-bias flags, prob_intra/last/gf, the 2×19 MV
    * update flags; per-MB intra/inter bool; the mv_ref tree under
    * §17.3 survey contexts; motion compensation; the Y2→WHT→IDCT
    * residual path on top of the prediction). Fixture: the m40 V_PRED
    * keyframe form, then each P-frame adds its own uniform (v+4)>>3
    * per MB onto the previous frame — so the reconstruction is the
    * keyframe column prefix PLUS the per-MB cumulative P-residual, and
    * the oracle replays both sums. The general inter space (NEWMV
    * vectors, subpel phases, NEAREST/NEAR survey, random levels) is
    * pinned by Vp8Spec. Scale: the m40 envelope — per-container
    * mapGroups, decode cost bytes-proportional and data-parallel. */
  private[operators] object Vp8PframesKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      import graft.sources.Ivf
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8p${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8p${k}_${t}_${j}_${c}") % 60))))
        }
      val ivf = Ivf.mux(Ivf.IvfHeader("VP80", 32, 32, 30, 1, n.toLong),
        payloads.zipWithIndex.map { case (p, t) =>
          Ivf.IvfFrame(t.toLong, p) })
      val (hdr, rec) = Ivf.demux(ivf)
      require(hdr.frameCount == n, s"container $k: IVF header drift")
      Vp8.decodeStream(rec.map(_._2.payload)).iterator.zipWithIndex.map {
        case (f, t) =>
          require(f.keyframe == (t == 0),
            s"container $k frame $t: keyframe bit drift")
          f.coded.foreach(d => require(d.frame.mbs.forall(m => m.inter &&
            m.mvMode == Vp8.ZeroMv && m.mv.isZero),
            s"container $k frame $t: mode drift through the bitstream"))
          (k, t.toLong, t == 0, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8PframesKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m44Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- per-MB Y2-DC draw: keyframe 1+md5%100, P-frames md5%60
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8p'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8p' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |-- keyframe: V_PRED accumulates down each MB column from 127
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |-- each ZEROMV P-frame adds its uniform residual onto the LAST
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.v, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m45: VP8 MOTION — NEWMV and NEARESTMV through real coded bytes,
    * completing the §17 surface the m44 ZEROMV chain leaves out: MV
    * components coded best-MV-relative through the §17.2 short/long
    * codec, the §17.3 survey resolving NEARESTMV from the dominant
    * neighbor, and full-pel motion compensation reading a DISPLACED
    * reference block. Fixture: the m40 keyframe, then P-frames where
    * MB(0,0) is ZEROMV and the others point at the previous frame's
    * MB(0,0) — except MB(1,1), which from t ≥ 2 switches to NEARESTMV
    * and inherits its above neighbor's (0,-16 px) vector, reading the
    * previous MB(1,0) instead. Reconstruction is piecewise-constant
    * per MB, so the oracle replays the whole motion graph as lagged
    * window sums. Subpel phases and NEARMV are pinned by Vp8Spec
    * (their filters don't admit a per-MB-constant closed form).
    * Scale: the m40 envelope. */
  private[operators] object Vp8MotionKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8m${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          def v(j: Int, c: Int) = hexbyte(s"vp8m${k}_${t}_${j}_${c}") % 60
          val mbs = Vector(
            vp8InterMb(v(0, 0)),
            vp8InterMb(v(0, 1), Vp8.NewMv, Vp8.Mv(0, -128)),
            vp8InterMb(v(1, 0), Vp8.NewMv, Vp8.Mv(-128, 0)),
            if (t == 1) vp8InterMb(v(1, 1), Vp8.NewMv, Vp8.Mv(-128, -128))
            else vp8InterMb(v(1, 1), Vp8.NearestMv))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        // the survey must resolve MB(1,1)'s NEARESTMV to its above
        // neighbor's vector — a decode-side invariant, not an input
        if (t >= 2)
          require(f.coded.exists(d => d.frame.mbs(3).mvMode ==
            Vp8.NearestMv && d.effMvs(3) == Vp8.Mv(0, -128)),
            s"container $k frame $t: NEARESTMV survey drift")
        (k, t.toLong, t == 0, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m45(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8MotionKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m45Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8m'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8m' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |-- A = keyframe MB(0,0) value; s(t) = cumulative ZEROMV residual
      |-- at (0,0); the motion graph needs s at lags 1 and 2 plus the
      |-- previous frame's MB(1,0) residual
      |sc AS (SELECT container, t, r,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container ORDER BY t) AS s
      |  FROM r WHERE j = 0 AND c = 0),
      |scl AS (SELECT container, t, s,
      |    lag(s, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY container
      |      ORDER BY t) AS s1,
      |    lag(s, 2, CAST(0 AS BIGINT)) OVER (PARTITION BY container
      |      ORDER BY t) AS s2
      |  FROM sc),
      |r10 AS (SELECT container, t,
      |    lag(r, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY container
      |      ORDER BY t) AS rp
      |  FROM r WHERE j = 1 AND c = 0),
      |-- keyframe column prefix for t = 0
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |a AS (SELECT container, 127 + r AS aval FROM r
      |  WHERE t = 0 AND j = 0 AND c = 0),
      |val AS (SELECT r.container, r.t, r.v,
      |    CASE WHEN r.t = 0 THEN 127 + k.kcum
      |      WHEN r.j = 0 AND r.c = 0 THEN a.aval + scl.s
      |      WHEN r.j = 1 AND r.c = 1 AND r.t >= 2
      |        THEN a.aval + scl.s2 + r10.rp + r.r
      |      ELSE a.aval + scl.s1 + r.r END AS val
      |  FROM r
      |  JOIN k ON k.container = r.container AND k.j = r.j AND k.c = r.c
      |  JOIN a ON a.container = r.container
      |  JOIN scl ON scl.container = r.container AND scl.t = r.t
      |  JOIN r10 ON r10.container = r.container AND r10.t = r.t)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m46: H.264 I_PCM DECODE — fully CONFORMANT H.264 payload bytes to
    * pixels with ZERO stand-in constants: an Annex-B stream of SPS +
    * PPS + all-I_PCM IDR slices (ITU-T H.264 §7.3.3 header, §7.3.5
    * mb_type 25 with pcm_alignment_zero_bit, raw 4:2:0 samples,
    * §7.4.1.1 emulation prevention over the PCM bytes) that ANY spec
    * decoder reproduces bit-exactly — the strongest "real codec bytes"
    * claim a zero-egress build can make, complementing m37's header
    * indexing and the VP8 decode family (whose coefficient tables are
    * documented stand-ins). Fixture: per MB, luma is the ramp
    * base + x + y (base < 200, so no 8-bit wrap) and chroma two flat
    * draws; the oracle replays base·256 + 3840 per MB and the 64·(cb+
    * cr) chroma sum. H264Spec pins the general round-trip (random
    * planes incl. zero runs that force emulation escapes). Scale: the
    * m40 envelope — per-container mapGroups, bytes-proportional. */
  private[operators] object H264IpcmKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      val startCode = Array[Byte](0, 0, 0, 1)
      val slices = (0 until n).map { t =>
        val y = new Array[Int](32 * 32)
        val u = new Array[Int](16 * 16)
        val v = new Array[Int](16 * 16)
        for (mj <- 0 until 2; mc <- 0 until 2) {
          val base = (hexbyte(s"h264p${k}_${t}_${mj}_${mc}") * 7) % 200
          val cb = hexbyte(s"h264pc${k}_${t}_${mj}_${mc}")
          val cr = hexbyte(s"h264pr${k}_${t}_${mj}_${mc}")
          for (yy <- 0 until 16; xx <- 0 until 16)
            y((mj * 16 + yy) * 32 + mc * 16 + xx) = base + xx + yy
          for (yy <- 0 until 8; xx <- 0 until 8) {
            u((mj * 8 + yy) * 16 + mc * 8 + xx) = cb
            v((mj * 8 + yy) * 16 + mc * 8 + xx) = cr
          }
        }
        H264.writeIpcmSlice(0, sps, pps, y, u, v, idrPicId = t)
      }
      val annexB = (Seq(spsNal, ppsNal) ++ slices)
        .flatMap(nal => startCode ++ nal).toArray
      // a real consumer's walk: split the stream, re-derive the
      // parameter sets, decode each slice against them
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == n + 2, s"container $k: NAL count drift")
      val sps2 = H264.parseSps(nals(0))
      val pps2 = H264.parsePps(nals(1))
      require(sps2.width == 32 && sps2.height == 32,
        s"container $k: SPS dims drift")
      nals.drop(2).iterator.zipWithIndex.map { case (nal, t) =>
        val (info, y, u, v) = H264.parseIpcmSlice(nal, sps2, pps2)
        require(info.idr && info.idrPicId == t,
          s"container $k slice $t: header drift (idrPicId ${info.idrPicId})")
        (k, t.toLong, 32L, 32L,
          y.iterator.map(_.toLong).sum,
          u.iterator.map(_.toLong).sum + v.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m46(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264IpcmKernel.rows)
      .toDF("container", "t", "width", "height", "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m46Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    (CAST(concat('0x', substr(md5('h264p' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) * 7)
      |      % 200 AS base,
      |    CAST(concat('0x', substr(md5('h264pc' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) AS cb,
      |    CAST(concat('0x', substr(md5('h264pr' || container || '_' || t
      |      || '_' || grid.j || '_' || grid.c), 1, 2)) AS BIGINT) AS cr
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid)
      |-- per MB: sum of base+x+y over 16x16 = 256*base + 3840;
      |-- chroma: 64 flat cb + 64 flat cr samples
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,
      |  CAST(sum(256 * base + 3840) AS BIGINT) AS luma_sum,
      |  CAST(sum(64 * (cb + cr)) AS BIGINT) AS chroma_sum
      |FROM mb GROUP BY container, t ORDER BY container, t""".stripMargin

  /** The §9.7 lifecycle stream m58 and e55 decode: the keyframe, then
    * `n - 1` ZEROMV P-frames whose MB(0,1) reads GOLDEN and MB(1,0)
    * ALTREF; refresh_golden on t ≡ 1 (mod 3), copy GOLDEN → ALTREF on
    * t ≡ 2 (mod 3), refresh_last = 0 on t = 3. `draw(t, j, c)` seeds
    * each macroblock's level. */
  private def vp8LifecyclePayloads(n: Int, draw: (Int, Int, Int) => Int)
      : Seq[Array[Byte]] =
    Vp8.encode(Vp8.KeyFrame(32, 32, 0,
      mbGrid((j, c) => vp8KeyMb(1 + draw(0, j, c) % 100)))) +:
      (1 until n).map { t =>
        Vp8.encodeInter(32, 32, Vp8.InterFrame(0,
          mbGrid((j, c) => vp8InterMb(draw(t, j, c) % 60,
            refGolden = j == 0 && c == 1, refAltref = j == 1 && c == 0)),
          refreshLast = t != 3,
          refreshGolden = t % 3 == 1,
          copyToAlt = if (t % 3 == 2) 2 else 0))
      }

  /** m58: VP8 REFERENCE-BUFFER LIFECYCLE (§9.7) — the header flags
    * every real encoder drives its buffer strategy with, through real
    * coded bits and [[graft.functions.Vp8.decodeStream]]'s production
    * lifecycle: refresh_golden re-anchors GOLDEN to the refreshing
    * frame (t ≡ 1 mod 3), the conditional copy_buffer_to_alternate
    * field moves GOLDEN into ALTREF (t ≡ 2 mod 3, reading pre-update
    * state), and refresh_last = 0 (t = 3) leaves LAST behind so frame
    * 4 predicts from frame 2. Four macroblock roles make every
    * mechanism pixel-observable: two LAST chains (one crossing the
    * refresh_last gap), a GOLDEN-referencing MB whose value telescopes
    * over the refresh anchors, and an ALTREF-referencing MB anchored
    * by the copy. The oracle replays all four value recurrences
    * — the skipped-residual LAST chain, the anchor-cumulative golden
    * chain, and the copy-lagged alt base. Completes the §16.3 story:
    * m49 proved keyframe-pinned GOLDEN, this proves the MOVING
    * anchors. Scale: the m40 envelope — per-container group
    * iterators, three extra plane buffers per stream, no shuffle. */
  private[operators] object Vp8BufferLifecycleKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Boolean, Boolean, Boolean,
          Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val st = Vp8.decodeStream(vp8LifecyclePayloads(n, (t, j, c) =>
        hexbyte(s"vp8r${k}_${t}_${j}_${c}")))
      require(st.length == n, s"container $k: stream length drift")
      // header fidelity spot check: frame 1's decoded lifecycle flags
      require(st(1).coded.exists(d => d.frame.refreshGolden &&
        d.frame.refreshLast && d.frame.copyToAlt == 0),
        s"container $k: lifecycle header drift")
      st.iterator.zipWithIndex.map { case (f, t) =>
        (k, t.toLong, t == 0,
          t > 0 && t % 3 == 1,  // refresh_golden (oracle replays)
          t > 0 && t % 3 == 2,  // copy_to_alt
          t != 3,               // refresh_last
          lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8BufferLifecycleKernel.rows)
      .toDF("container", "t", "keyframe", "refresh_golden",
        "copy_to_alt", "refresh_last", "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m58Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8r'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8r' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |-- keyframe V_PRED column prefixes (base values per MB)
      |k AS (SELECT container, j, c,
      |    127 + sum(r) OVER (PARTITION BY container, c ORDER BY j)
      |      AS kval
      |  FROM r WHERE t = 0),
      |-- LAST chains (b at (0,0), c2 at (1,1)): cumulative residuals,
      |-- with frame 3's residual DROPPED from frames >= 4 (frame 3
      |-- did not refresh LAST)
      |lastv AS (SELECT r.container, r.t, r.j, r.c,
      |    k.kval
      |      + sum(CASE WHEN r2.t > 0 THEN r2.r ELSE 0 END)
      |      - CASE WHEN r.t > 3 THEN max(CASE WHEN r2.t = 3
      |          THEN r2.r ELSE 0 END) ELSE 0 END AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = r.j
      |    AND r2.c = r.c AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = r.j AND k.c = r.c
      |  WHERE (r.j = 0 AND r.c = 0) OR (r.j = 1 AND r.c = 1)
      |  GROUP BY r.container, r.t, r.j, r.c, k.kval),
      |-- GOLDEN chain (g at (0,1)): anchors at t % 3 = 1 accumulate;
      |-- val_g(t) = kval + sum of r over refresh frames BEFORE t
      |-- + r(t)
      |gold AS (SELECT r.container, r.t, k.kval
      |    + sum(CASE WHEN r2.t > 0 AND r2.t % 3 = 1 AND r2.t < r.t
      |        THEN r2.r ELSE 0 END)
      |    + max(CASE WHEN r2.t = r.t AND r.t > 0 THEN r2.r
      |        ELSE 0 END) AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = 0
      |    AND r2.c = 1 AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = 0 AND k.c = 1
      |  WHERE r.j = 0 AND r.c = 1
      |  GROUP BY r.container, r.t, k.kval),
      |-- ALTREF chain (a at (1,0)): alt = keyframe until the t = 2
      |-- copy lands (GOLDEN = frame 1's decode), so frames >= 3 are
      |-- based at kval + r(1)
      |alt AS (SELECT r.container, r.t, k.kval
      |    + CASE WHEN r.t >= 3 THEN max(CASE WHEN r2.t = 1 THEN r2.r
      |        ELSE 0 END) ELSE 0 END
      |    + max(CASE WHEN r2.t = r.t AND r.t > 0 THEN r2.r
      |        ELSE 0 END) AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = 1
      |    AND r2.c = 0 AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = 1 AND k.c = 0
      |  WHERE r.j = 1 AND r.c = 0
      |  GROUP BY r.container, r.t, k.kval),
      |pervals AS (SELECT l.container, l.t,
      |    sum(l.val) AS last_sum,
      |    max(g.val) AS gold_val, max(a.val) AS alt_val
      |  FROM lastv l
      |  JOIN gold g ON g.container = l.container AND g.t = l.t
      |  JOIN alt a ON a.container = l.container AND a.t = l.t
      |  GROUP BY 1, 2)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  (t > 0 AND t % 3 = 1) AS refresh_golden,
      |  (t > 0 AND t % 3 = 2) AS copy_to_alt,
      |  (t != 3) AS refresh_last,
      |  CAST(256 * (last_sum + gold_val + alt_val) AS BIGINT)
      |    AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM pervals ORDER BY container, t""".stripMargin

  /** e55: STREAMING VP8 BUFFER LIFECYCLE — m58's §9.7 reference
    * management as a LIVE stream: the per-key state store carries all
    * THREE reference buffers plus the flattened
    * [[graft.functions.Vp8.Ctx]], and the refresh_golden /
    * copy_buffer_to_alternate / refresh_last = 0 decisions taken in
    * one micro-batch must be visible to frames arriving in LATER
    * batches (the chunk cut on (ts, seq) straddles every container's
    * frames across all 3 batches). Oracle: m58's four-role value
    * model under the e55 salt. With e53 (planes), e54 (entropy) and
    * this (buffer lifecycle), the full decoder state surface is
    * gate-proven across real micro-batch boundaries. */
  private[operators] object Vp8LifecycleStreamKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val payloads = vp8LifecyclePayloads(n, (t, j, c) =>
        hexbyte(s"vp8z${k}_${t}_${j}_${c}"))
      val hex = java.util.HexFormat.of()
      payloads.iterator.zipWithIndex.map { case (p, t) =>
        (k.toString, 0, t.toLong, 0.0, hex.formatHex(p), false, t.toLong)
      }
    }
  }

  private def e55(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StatefulRunner, Vp8Machine}
    val fixture = KernelGroups.countKernel(viewContainers(s, d))(
        Vp8LifecycleStreamKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e55@$d",
        ds => StatefulRunner.runStreaming(new Vp8Machine.StreamDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("container"),
        col("ts").as("t"),
        (split(col("text"), ",")(1) === "1").as("keyframe"),
        col("value").cast("long").as("luma_sum"),
        split(col("text"), ",")(0).cast("long").as("chroma_sum"))
      .orderBy(col("container"), col("t"))
  }

  private val e55Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8z'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8z' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    127 + sum(r) OVER (PARTITION BY container, c ORDER BY j)
      |      AS kval
      |  FROM r WHERE t = 0),
      |lastv AS (SELECT r.container, r.t, r.j, r.c,
      |    k.kval
      |      + sum(CASE WHEN r2.t > 0 THEN r2.r ELSE 0 END)
      |      - CASE WHEN r.t > 3 THEN max(CASE WHEN r2.t = 3
      |          THEN r2.r ELSE 0 END) ELSE 0 END AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = r.j
      |    AND r2.c = r.c AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = r.j AND k.c = r.c
      |  WHERE (r.j = 0 AND r.c = 0) OR (r.j = 1 AND r.c = 1)
      |  GROUP BY r.container, r.t, r.j, r.c, k.kval),
      |gold AS (SELECT r.container, r.t, k.kval
      |    + sum(CASE WHEN r2.t > 0 AND r2.t % 3 = 1 AND r2.t < r.t
      |        THEN r2.r ELSE 0 END)
      |    + max(CASE WHEN r2.t = r.t AND r.t > 0 THEN r2.r
      |        ELSE 0 END) AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = 0
      |    AND r2.c = 1 AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = 0 AND k.c = 1
      |  WHERE r.j = 0 AND r.c = 1
      |  GROUP BY r.container, r.t, k.kval),
      |alt AS (SELECT r.container, r.t, k.kval
      |    + CASE WHEN r.t >= 3 THEN max(CASE WHEN r2.t = 1 THEN r2.r
      |        ELSE 0 END) ELSE 0 END
      |    + max(CASE WHEN r2.t = r.t AND r.t > 0 THEN r2.r
      |        ELSE 0 END) AS val
      |  FROM r
      |  JOIN r r2 ON r2.container = r.container AND r2.j = 1
      |    AND r2.c = 0 AND r2.t <= r.t
      |  JOIN k ON k.container = r.container AND k.j = 1 AND k.c = 0
      |  WHERE r.j = 1 AND r.c = 0
      |  GROUP BY r.container, r.t, k.kval)
      |SELECT l.container, CAST(l.t AS BIGINT) AS t,
      |  (l.t = 0) AS keyframe,
      |  CAST(256 * (sum(l.val) + max(g.val) + max(a.val)) AS BIGINT)
      |    AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM lastv l
      |JOIN gold g ON g.container = l.container AND g.t = l.t
      |JOIN alt a ON a.container = l.container AND a.t = l.t
      |GROUP BY l.container, l.t ORDER BY l.container, l.t""".stripMargin

  /** m59: VP8 TEMPORAL SEGMENTATION + PER-SEGMENT LOOP FILTER
    * (§9.3/§10/§15.1) — the segmentation shape real encoders ship:
    * the KEYFRAME codes the segment map once (per-MB trees), every
    * P-frame sets update_mb_segmentation_map = 0 and reuses it from
    * [[graft.functions.Vp8.Ctx]].segMap (no per-MB map bits — a
    * decoder that wrongly re-reads trees desyncs loudly), quantizer
    * DELTAS route each segment to its own dequant (seg 0 at y2dc 8,
    * seg 1 at +20 → 48), and the per-segment LOOP-FILTER feature
    * (delta −18 on segment 1) zeroes the final filtered frame's only
    * active MB edge — the oracle's unadjusted row sums catch an
    * engine that ignores the feature. Single-column 16×32 fixture,
    * m54's per-segment readout replayed per frame. Scale: the m40
    * envelope plus one mbCount-int map per stream. */
  private[operators] object Vp8TemporalSegKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Boolean, Long, Long, Long,
          Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      def seg(updateMap: Boolean, updateData: Boolean = true) =
        Vp8.Segmentation(absMode = false,
          quant = Array(0, 20, 0, 0), mapProbs = Array(128, 128, 128),
          lf = Array(0, -18, 0, 0), updateMap = updateMap,
          updateData = updateData)
      def draw(t: Int, j: Int): Int = hexbyte(s"vp8g${k}_${t}_$j")
      val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
      val payloads = Vp8.encode(Vp8.KeyFrame(16, 32, 0,
        Vector(vp8KeyMb(1 + draw(0, 0) % 100),
          vp8KeyMb(1 + draw(0, 1) % 100, segment = 1)),
        segmentation = Some(seg(updateMap = true))), ctx = cxE) +:
        (1 until n).map { t =>
          // seg 1 dequants at 48: cap its residuals (% 8) so the
          // five-frame chain stays below the 255 pixel clamp
          Vp8.encodeInter(16, 32, Vp8.InterFrame(0,
            Vector(vp8InterMb(draw(t, 0) % 60),
              vp8InterMb(draw(t, 1) % 8, segment = 1)),
            filterLevel = if (t == n - 1) 18 else 0,
            normalFilter = true,
            // odd frames re-state the feature data, even frames
            // PERSIST it (sect 9.3's remembered values — both paths
            // under the oracle)
            segmentation = Some(seg(updateMap = false,
              updateData = t % 2 == 1))), ctx = cxE)
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        val (segIds, sg) = f.coded.fold(
          d => (d.frame.mbs.map(_.segment), d.frame.segmentation),
          d => (d.frame.mbs.map(_.segment), d.frame.segmentation))
        val updMap = sg.exists(_.updateMap)
        require(segIds == Vector(0, 1),
          s"container $k frame $t: segment map drift")
        require(updMap == (t == 0),
          s"container $k frame $t: update_mb_segmentation_map drift")
        (k, t.toLong, t == 0, updMap, rowSum(f, 15), rowSum(f, 16),
          lumaSum(f), chromaSum(f), segIds.map(_.toLong).sum)
      }
    }
  }

  private def m59(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8TemporalSegKernel.rows)
      .toDF("container", "t", "keyframe", "update_map", "r15", "r16",
        "luma_sum", "chroma_sum", "seg_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m59Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, n, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, n, t, jj.j,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8g'
      |        || container || '_0_' || jj.j), 1, 2)) AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8g' || container || '_'
      |        || t || '_' || jj.j), 1, 2)) AS BIGINT)
      |        % (CASE WHEN jj.j = 1 THEN 8 ELSE 60 END) END AS v
      |  FROM frames, (SELECT unnest(range(2)) AS j) jj),
      |-- per-segment dequant: MB row j IS segment j — seg 0 at
      |-- y2dc = 8, seg 1 at qindex 0+20 → 48 (the m54 readout)
      |r AS (SELECT container, n, t, j, v,
      |    CASE WHEN j = 0 THEN (v + 4) // 8
      |      ELSE ((48 * v + 3) // 8 + 4) // 8 END AS r FROM mb),
      |k AS (SELECT container, j,
      |    sum(r) OVER (PARTITION BY container ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, n, t, j, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.n, p.t, p.j, p.v,
      |    127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j),
      |wide AS (SELECT container, n, t,
      |    max(CASE WHEN j = 0 THEN val END) AS v0,
      |    max(CASE WHEN j = 1 THEN val END) AS v1
      |  FROM val GROUP BY 1, 2, 3)
      |-- the final frame's only active edge (y = 16) belongs to MB1,
      |-- whose segment lf delta (18 - 18 = 0) DISABLES filtering —
      |-- the row sums stay the pure chain on every frame
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  (t = 0) AS update_map,
      |  CAST(16 * v0 AS BIGINT) AS r15,
      |  CAST(16 * v1 AS BIGINT) AS r16,
      |  CAST(256 * (v0 + v1) AS BIGINT) AS luma_sum,
      |  CAST(32768 AS BIGINT) AS chroma_sum,
      |  CAST(1 AS BIGINT) AS seg_sum
      |FROM wide ORDER BY container, t""".stripMargin

  /** m60: VP8 INTRA MACROBLOCKS INSIDE P-FRAMES (§11.4/§16.2) — the
    * B_PRED path in inter frames that real encoders use for intra
    * refresh: one macroblock per P-frame codes intra B_PRED (submodes
    * on §11.4's fixed non-kf table, own-DC type-3 tokens, no Y2,
    * reconstruction interleaved with prediction over the CURRENT
    * frame's recon) while its neighbors ride ZEROMV chains. All-B_TM
    * with a uniform per-block DC telescopes from the uniform left
    * neighbor (the m41 closed form re-anchored): block (by, bx) is
    * flat V0 + (by+1)(bx+1)·r, so the MB's luma is
    * 256·V0 + 1600·r — the oracle replays it per frame on top of the
    * three cumulative chains. Scale: the m40 envelope. */
  private[operators] object Vp8IntraRefreshKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      def draw(t: Int, j: Int, c: Int): Int =
        hexbyte(s"vp8i${k}_${t}_${j}_${c}")
      val keyMbs = mbGrid((j, c) => vp8KeyMb(1 + draw(0, j, c) % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          val vD = draw(t, 0, 1) % 6
          val bMb = Vp8.InterMb(inter = false, 0, Vp8.Mv(0, 0),
            Vp8.BPred, Vp8.DcPred, new Array[Int](16),
            Array.fill(16) { val a = new Array[Int](16); a(0) = vD; a },
            zeroBlocks(4), zeroBlocks(4), bModes = Array.fill(16)(Vp8.BTm))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            if (j == 0 && c == 1) bMb
            else vp8InterMb(draw(t, j, c) % 60))))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        val levels = f.coded.fold(_ => y2Levels(f), { d =>
          val mb1 = d.frame.mbs(1)
          require(!mb1.inter && mb1.yMode == Vp8.BPred &&
            mb1.bModes.forall(_ == Vp8.BTm),
            s"container $k frame $t: intra-refresh mode drift")
          d.frame.mbs.iterator.map(m =>
            m.y2(0).toLong + m.y.iterator.map(_.head.toLong).sum).sum
        })
        (k, t.toLong, t == 0, levels, lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8IntraRefreshKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m60Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8i'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8i' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |-- the three ZEROMV chains ((0,0), (1,0), (1,1)) accumulate;
      |-- (0,1) is the intra-refresh B_PRED MB — its draw (mod 6) is
      |-- the per-block DC, not a chain residual
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 AND NOT (j = 0 AND c = 1) THEN r
      |      ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |uni AS (SELECT p.container, p.t, p.j, p.c, p.v,
      |    127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c),
      |-- intra-refresh MB luma: telescoped from the uniform left
      |-- neighbor V0 — 256·V0 + 1600·r_d with r_d = (4(v%6)+4)//8
      |agg AS (SELECT u.container, u.t,
      |    sum(CASE WHEN NOT (u.j = 0 AND u.c = 1) OR u.t = 0
      |      THEN 256 * u.val ELSE 0 END) AS chain_luma,
      |    max(CASE WHEN u.j = 0 AND u.c = 0 THEN u.val END) AS v0,
      |    max(CASE WHEN u.j = 0 AND u.c = 1 THEN (u.v % 6) END) AS vd,
      |    sum(CASE WHEN u.t = 0 OR NOT (u.j = 0 AND u.c = 1)
      |      THEN u.v ELSE 16 * (u.v % 6) END) AS levels_sum
      |  FROM uni u GROUP BY 1, 2)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(levels_sum AS BIGINT) AS levels_sum,
      |  CAST(CASE WHEN t = 0 THEN chain_luma
      |    ELSE chain_luma + 256 * v0 + 1600 * ((4 * vd + 4) // 8)
      |    END AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM agg ORDER BY container, t""".stripMargin

  /** m61: VP8 DISPLAY CROPPING (§9.1) — the dimension handling nearly
    * every real stream needs (1080 lines pad to 1088 and crop): a
    * 24×24 DISPLAY stream codes a 32×32 macroblock-padded frame, the
    * pad region decodes normally and feeds the ZEROMV inter chains,
    * and [[graft.functions.Vp8.decodeStream]] emits display-cropped
    * planes (luma 24×24, chroma ceil-halved 12×12). The oracle
    * replays the weighted region sums: each MB contributes
    * rows∈{16,8} × cols∈{16,8} display pixels of its chain value, and
    * the chroma constant is 2·144·128. Scale: the m40 envelope. */
  private[operators] object Vp8CropKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      def draw(t: Int, j: Int, c: Int): Int =
        hexbyte(s"vp8d${k}_${t}_${j}_${c}")
      val keyMbs = mbGrid((j, c) => vp8KeyMb(1 + draw(0, j, c) % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(24, 24, 0, keyMbs)) +:
        (1 until n).map { t =>
          val mbs = mbGrid((j, c) => vp8InterMb(draw(t, j, c) % 60))
          Vp8.encodeInter(24, 24, Vp8.InterFrame(0, mbs))
        }
      val st = Vp8.decodeStream(payloads)
      st.iterator.zipWithIndex.map { case (f, t) =>
        require(f.width == 24 && f.height == 24 &&
          f.y.length == 24 * 24 && f.u.length == 12 * 12,
          s"container $k frame $t: display-crop drift")
        (k, t.toLong, t == 0, f.width.toLong,
          lumaSum(f), chromaSum(f),
          f.y.length.toLong)
      }
    }
  }

  private def m61(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8CropKernel.rows)
      .toDF("container", "t", "keyframe", "width", "luma_sum",
        "chroma_sum", "n_px")
      .orderBy(col("container"), col("t"))
  }

  private val m61Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8d'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8d' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |-- display window 24x24 over the 32x32 coded grid: each MB
      |-- contributes rows {16, 8} x cols {16, 8} pixels of its value
      |val AS (SELECT p.container, p.t,
      |    (CASE WHEN p.j = 0 THEN 16 ELSE 8 END)
      |      * (CASE WHEN p.c = 0 THEN 16 ELSE 8 END)
      |      * (127 + k.kcum + p.pcum) AS px
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(24 AS BIGINT) AS width,
      |  CAST(sum(px) AS BIGINT) AS luma_sum,
      |  CAST(2 * 144 * 128 AS BIGINT) AS chroma_sum,
      |  CAST(576 AS BIGINT) AS n_px
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m63: VP8 DISPLAY UPSCALING (§9.1) — the last named header
    * boundary: the keyframe's 2-bit horizontal/vertical scale codes
    * (ratios 5/4, 5/3, 2/1) now round-trip through the uncompressed
    * header and drive a DISPLAY-time upscale while reconstruction and
    * every reference buffer stay at the coded dimensions (the RFC
    * names the ratios and the display-time placement; the resample
    * kernel is unspecified — nearest-neighbor stand-in,
    * [[graft.functions.Vp8.upscale]]). Streams draw a scale pair per
    * container; the m61-style uniform-MB ZEROMV chain gives closed-
    * form plane values, so the oracle replays the upscaled sums as
    * Σ rowCount(j)·colCount(c)·chainValue(j,c) with the counts from
    * the ⌊out·den/num⌋ map, plus the ceil display dims and the
    * constant chroma 2·128·⌈16n/d⌉². Scale: the m40 envelope. */
  private[operators] object Vp8UpscaleKernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long)] = {
      import graft.sources.Ivf
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val ws = hexbyte(s"vp8uw$k") % 4
      val hs = hexbyte(s"vp8uh$k") % 4
      def draw(t: Int, j: Int, c: Int): Int =
        hexbyte(s"vp8u${k}_${t}_${j}_${c}")
      val keyMbs = mbGrid((j, c) => vp8KeyMb(1 + draw(0, j, c) % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs,
        widthScale = ws, heightScale = hs)) +:
        (1 until n).map { t =>
          val mbs = mbGrid((j, c) => vp8InterMb(draw(t, j, c) % 60))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs))
        }
      val tag = Ivf.parseVp8Tag(payloads.head)
      require(tag.widthScale == ws && tag.heightScale == hs,
        s"container $k: scale codes drift through the header")
      val st = Vp8.decodeStream(payloads)
      st.iterator.zipWithIndex.map { case (f, t) =>
        require(f.width == 32 && f.y.length == 32 * 32,
          s"container $k frame $t: reconstruction must stay coded-size")
        val upY = Vp8.upscale(f.y, 32, 32, ws, hs)
        val upU = Vp8.upscale(f.u, 16, 16, ws, hs)
        val upV = Vp8.upscale(f.v, 16, 16, ws, hs)
        (k, t.toLong, ws.toLong, hs.toLong,
          Vp8.upscaleDim(32, ws).toLong, Vp8.upscaleDim(32, hs).toLong,
          upY.iterator.map(_.toLong).sum,
          upU.iterator.map(_.toLong).sum +
            upV.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8UpscaleKernel.rows)
      .toDF("container", "t", "wscale", "hscale", "disp_w", "disp_h",
        "up_luma_sum", "up_chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m63Sql =
    s"""${viewCnt(6)}
      |sc AS (SELECT container, n,
      |    CAST(concat('0x', substr(md5('vp8uw' || container), 1, 2))
      |      AS BIGINT) % 4 AS ws,
      |    CAST(concat('0x', substr(md5('vp8uh' || container), 1, 2))
      |      AS BIGINT) % 4 AS hs
      |  FROM cnt),
      |-- §9.1 ratio table num/den per code
      |rat AS (SELECT *,
      |    list_extract([1, 5, 5, 2], CAST(ws + 1 AS INT)) AS wn,
      |    list_extract([1, 4, 3, 1], CAST(ws + 1 AS INT)) AS wd,
      |    list_extract([1, 5, 5, 2], CAST(hs + 1 AS INT)) AS hn,
      |    list_extract([1, 4, 3, 1], CAST(hs + 1 AS INT)) AS hd
      |  FROM sc),
      |dims AS (SELECT *,
      |    (32 * wn + wd - 1) // wd AS ow,
      |    (32 * hn + hd - 1) // hd AS oh,
      |    (16 * wn + wd - 1) // wd AS ocw,
      |    (16 * hn + hd - 1) // hd AS och
      |  FROM rat),
      |-- nearest-neighbor column/row counts per MB index (⌊out·d/n⌋)
      |ccnt AS (SELECT d.container, (x.x * d.wd // d.wn) // 16 AS c,
      |    count(*) AS cols
      |  FROM dims d JOIN (SELECT unnest(range(64)) AS x) x
      |    ON x.x < d.ow GROUP BY 1, 2),
      |rcnt AS (SELECT d.container, (y.y * d.hd // d.hn) // 16 AS j,
      |    count(*) AS rws
      |  FROM dims d JOIN (SELECT unnest(range(64)) AS y) y
      |    ON y.y < d.oh GROUP BY 1, 2),
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8u'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8u' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |kc AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t,
      |    rc.rws * cc.cols * (127 + kc.kcum + p.pcum) AS px
      |  FROM p
      |  JOIN kc ON kc.container = p.container AND kc.j = p.j
      |    AND kc.c = p.c
      |  JOIN rcnt rc ON rc.container = p.container AND rc.j = p.j
      |  JOIN ccnt cc ON cc.container = p.container AND cc.c = p.c)
      |SELECT v.container, CAST(v.t AS BIGINT) AS t,
      |  CAST(d.ws AS BIGINT) AS wscale, CAST(d.hs AS BIGINT) AS hscale,
      |  CAST(d.ow AS BIGINT) AS disp_w, CAST(d.oh AS BIGINT) AS disp_h,
      |  CAST(sum(v.px) AS BIGINT) AS up_luma_sum,
      |  CAST(any_value(2 * 128 * d.ocw * d.och) AS BIGINT)
      |    AS up_chroma_sum
      |FROM val v JOIN dims d ON d.container = v.container
      |GROUP BY v.container, v.t, d.ws, d.hs, d.ow, d.oh
      |ORDER BY v.container, v.t""".stripMargin

  /** m57: H.264 INTRA_4X4 PREDICTION-MODE DECODE (§7.3.5/§8.3.1) —
    * one normative step past m46's I_PCM: real Annex-B I slices whose
    * macroblock layer codes mb_type = 0 (Intra_4x4), the 16 per-block
    * luma prediction modes through §8.3.1.1's prev_intra4x4_pred_mode
    * mechanism — the flag fires exactly when the wanted mode equals
    * Min(left, above) with the DC default at frame edges, else the
    * 3-bit rem with the </≥ split — intra_chroma_pred_mode, and
    * coded_block_pattern me(v) forced to 0 (the CAVLC residual tables
    * stay behind the [[graft.sources.H264.CbpIntraMap]] seam; CBP 0
    * keeps the slice complete per §7.3.5). The oracle replays the
    * whole prediction lattice from the draws: per-block neighbor
    * lookups across subblock AND macroblock edges, the Min() rule,
    * and the per-frame count of prediction hits — a wrong neighbor
    * map or a wrong Min default desyncs the flag stream and the
    * histogram explodes. Scale: the m40 envelope — per-container
    * mapGroups, bytes-proportional. */
  private[operators] object H264IntraModeKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      val startCode = Array[Byte](0, 0, 0, 1)
      val slices = (0 until n).map { t =>
        val modes = Vector.tabulate(4)(mb => Array.tabulate(16)(idx =>
          hexbyte(s"h264m${k}_${t}_${mb}_$idx") % 9))
        val chroma = Vector.tabulate(4)(mb =>
          hexbyte(s"h264mc${k}_${t}_$mb") % 4)
        H264.writeIntraModeSlice(0, sps, pps, modes, chroma,
          idrPicId = t)
      }
      val annexB = (Seq(spsNal, ppsNal) ++ slices)
        .flatMap(nal => startCode ++ nal).toArray
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == n + 2, s"container $k: NAL count drift")
      val sps2 = H264.parseSps(nals(0))
      val pps2 = H264.parsePps(nals(1))
      nals.drop(2).iterator.zipWithIndex.map { case (nal, t) =>
        val (info, mbs) = H264.parseIntraModeSlice(nal, sps2, pps2)
        require(info.idr && info.idrPicId == t,
          s"container $k slice $t: header drift")
        mbs.zipWithIndex.foreach { case (mb, i) =>
          mb.lumaModes.zipWithIndex.foreach { case (m, idx) =>
            require(m == hexbyte(s"h264m${k}_${t}_${i}_$idx") % 9,
              s"container $k slice $t MB $i blk $idx: mode drift " +
                "through the prediction lattice")
          }
          require(mb.cbp == 0, s"container $k slice $t MB $i: CBP drift")
        }
        (k, t.toLong, mbs.length.toLong,
          mbs.iterator.flatMap(_.lumaModes.iterator.map(_.toLong)).sum,
          mbs.iterator.map(_.prevCount.toLong).sum,
          mbs.iterator.map(_.chromaMode.toLong).sum,
          mbs.iterator.map(_.cbp.toLong).sum)
      }
    }
  }

  private def m57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264IntraModeKernel.rows)
      .toDF("container", "t", "n_mbs", "mode_sum", "prev_count",
        "chroma_sum", "cbp_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m57Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- the per-4x4-block mode draws, with §6.4.3's luma4x4BlkIdx →
      |-- (bx, by) scan (raster quads, z-order inside each quad)
      |blocks AS (SELECT container, t, m.mb, b.idx,
      |    2 * ((b.idx // 4) % 2) + (b.idx % 4) % 2 AS bx,
      |    2 * ((b.idx // 4) // 2) + (b.idx % 4) // 2 AS gy,
      |    CAST(concat('0x', substr(md5('h264m' || container || '_' || t
      |      || '_' || m.mb || '_' || b.idx), 1, 2)) AS BIGINT) % 9 AS mode
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m,
      |    (SELECT unnest(range(16)) AS idx) b),
      |-- neighbor coordinates: within the MB, else across the MB edge
      |-- (2x2 MB grid: left = mb-1 when mb%2=1, above = mb-2)
      |nb AS (SELECT *,
      |    CASE WHEN bx > 0 THEN mb WHEN mb % 2 = 1 THEN mb - 1
      |      ELSE NULL END AS lmb,
      |    CASE WHEN bx > 0 THEN bx - 1 ELSE 3 END AS lx,
      |    CASE WHEN gy > 0 THEN mb WHEN mb >= 2 THEN mb - 2
      |      ELSE NULL END AS amb,
      |    CASE WHEN gy > 0 THEN gy - 1 ELSE 3 END AS ay
      |  FROM blocks),
      |-- §8.3.1.1: pred = Min(A left, B above), DC (2) when a
      |-- neighbor is outside the frame
      |pred AS (SELECT nb.container, nb.t, nb.mode,
      |    least(coalesce(la.mode, 2), coalesce(ab.mode, 2)) AS pred
      |  FROM nb
      |  LEFT JOIN blocks la ON la.container = nb.container
      |    AND la.t = nb.t AND la.mb = nb.lmb AND la.bx = nb.lx
      |    AND la.gy = nb.gy
      |  LEFT JOIN blocks ab ON ab.container = nb.container
      |    AND ab.t = nb.t AND ab.mb = nb.amb AND ab.bx = nb.bx
      |    AND ab.gy = nb.ay),
      |ch AS (SELECT container, t,
      |    sum(CAST(concat('0x', substr(md5('h264mc' || container || '_'
      |      || t || '_' || m.mb), 1, 2)) AS BIGINT) % 4) AS chroma_sum
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m GROUP BY 1, 2)
      |SELECT p.container, CAST(p.t AS BIGINT) AS t,
      |  CAST(4 AS BIGINT) AS n_mbs,
      |  CAST(sum(p.mode) AS BIGINT) AS mode_sum,
      |  CAST(count(*) FILTER (p.mode = p.pred) AS BIGINT) AS prev_count,
      |  CAST(any_value(ch.chroma_sum) AS BIGINT) AS chroma_sum,
      |  CAST(0 AS BIGINT) AS cbp_sum
      |FROM pred p
      |JOIN ch ON ch.container = p.container AND ch.t = p.t
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** m62: H.264 CAVLC RESIDUALS (§9.2/§7.3.5.3) — the coefficient
    * layer m57's CBP-0 seam deferred, with the normative mechanics
    * implemented EXACTLY from spec text ([[graft.sources.H264.Cavlc]]):
    * trailing-one signs, the §9.2.2.1 unary level_prefix, the WHOLE
    * §9.2.2.2 level machinery (suffixLength adaptation ladder, the
    * prefix-14/15 suffix escapes, the first-level +2 under three
    * trailing ones), §9.2.3/§9.2.4 zero-run placement, and the
    * §9.2.1 nC context derivation over left/above 4x4 TotalCoeff with
    * frame-edge availability (pinned per block by the oracle). The
    * codeWORD tables (9-5/9-7/9-10) stay behind fixed-field seams —
    * coeff_token uses the REAL nC ≥ 8 FLC column. Slices carry real
    * CBP me(v) draws routing 8x8 quads, mb_qp_delta under CBP ≠ 0,
    * chroma DC (nC = −1) and chroma AC under cbpChroma, all muxed as
    * Annex-B and parsed back; the oracle replays draws, placements
    * (Σ coeff·scanIdx), and the nC lattice. Scale: the m40 envelope —
    * per-container mapGroups, bytes-proportional. */
  private[operators] object H264CavlcKernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      def lumaBlk(t: Int, mb: Int, blk: Int): Array[Int] = {
        val c = new Array[Int](16)
        val tc = 1 + hexbyte(s"cavT${k}_${t}_${mb}_$blk") % 6
        val t1n = math.min(tc - 1, hexbyte(s"cav1${k}_${t}_${mb}_$blk") % 4)
        (0 until tc).foreach { j =>
          val mag = if (j < t1n) 1
            else 2 + hexbyte(s"cavM${k}_${t}_${mb}_${blk}_$j") % 4
          val neg = hexbyte(s"cavS${k}_${t}_${mb}_${blk}_$j") % 2 == 1
          c(15 - 2 * j) = if (neg) -mag else mag
        }
        c
      }
      val startCode = Array[Byte](0, 0, 0, 1)
      val slices = (0 until n).map { t =>
        val cbps = Vector.tabulate(4) { mb =>
          (hexbyte(s"cavL${k}_${t}_$mb") % 16) |
            ((hexbyte(s"cavC${k}_${t}_$mb") % 3) << 4)
        }
        val qpds = Vector.tabulate(4)(mb =>
          if (cbps(mb) != 0) hexbyte(s"cavQ${k}_${t}_$mb") % 5 - 2
          else 0)
        val luma = Vector.tabulate(4)(mb => Vector.tabulate(16)(blk =>
          if ((cbps(mb) & (1 << (blk / 4))) != 0) lumaBlk(t, mb, blk)
          else Array.empty[Int]))
        val cdc = Vector.tabulate(4)(mb =>
          if ((cbps(mb) >> 4) != 0) Vector.tabulate(2)(comp => Array(
            1 + hexbyte(s"cavDa${k}_${t}_${mb}_$comp") % 3, 0,
            -(1 + hexbyte(s"cavDb${k}_${t}_${mb}_$comp") % 2), 0))
          else Vector(Array.empty[Int], Array.empty[Int]))
        val cac = Vector.tabulate(4)(mb =>
          if ((cbps(mb) >> 4) == 2) Vector.tabulate(2)(comp =>
            Vector.tabulate(4) { blk =>
              val c = new Array[Int](15)
              c(blk) = 2 + hexbyte(s"cavAa${k}_${t}_${mb}_${comp}_$blk") % 3
              c(blk + 4) =
                -1 - hexbyte(s"cavAb${k}_${t}_${mb}_${comp}_$blk") % 2
              c
            })
          else Vector.fill(2)(Vector.fill(4)(Array.empty[Int])))
        H264.writeIntraCodedSlice(0, sps, pps,
          Vector.fill(4)(Array.fill(16)(2)), Vector.fill(4)(1),
          cbps, qpds, luma, cdc, cac, idrPicId = t)
      }
      val annexB = (Seq(spsNal, ppsNal) ++ slices)
        .flatMap(nal => startCode ++ nal).toArray
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == n + 2, s"container $k: NAL count drift")
      nals.drop(2).iterator.zipWithIndex.flatMap { case (nal, t) =>
        val (info, mbs) = H264.parseIntraCodedSlice(nal, sps, pps)
        require(info.idr && info.idrPicId == t,
          s"container $k slice $t: header drift")
        mbs.zipWithIndex.iterator.map { case (m, mb) =>
          m.luma.zipWithIndex.foreach { case (c, blk) =>
            val want =
              if ((m.intra.cbp & (1 << (blk / 4))) != 0) lumaBlk(t, mb, blk)
              else Array.empty[Int]
            require(c.toSeq == want.toSeq,
              s"container $k slice $t MB $mb blk $blk: CAVLC drift")
          }
          val codedBlks = m.luma.zipWithIndex.filter(_._1.nonEmpty)
          val stats = codedBlks.map(b => graft.sources.H264.Cavlc.stats(b._1))
          (k, t.toLong, mb.toLong, m.intra.cbp.toLong, m.qpDelta.toLong,
            stats.map(_._1.toLong).sum, stats.map(_._2.toLong).sum,
            stats.map(_._3.toLong).sum,
            codedBlks.map(_._1.map(_.toLong).sum).sum,
            codedBlks.map(_._1.zipWithIndex
              .map { case (v, p) => v.toLong * p }.sum).sum,
            codedBlks.map(b => m.ncLuma(b._2).toLong).sum,
            m.chromaDc.map(_.map(_.toLong).sum).sum,
            m.chromaAc.map(_.map(_.map(_.toLong).sum).sum).sum)
        }
      }
    }
  }

  private def m62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264CavlcKernel.rows)
      .toDF("container", "t", "mb", "cbp", "qp_delta", "tc_sum",
        "t1_sum", "tz_sum", "level_sum", "pos_sum", "nc_sum",
        "cdc_sum", "cac_sum")
      .orderBy(col("container"), col("t"), col("mb"))
  }

  private val m62Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mbs AS (SELECT container, t, m.mb,
      |    CAST(concat('0x', substr(md5('cavL' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 16 AS cbpl,
      |    CAST(concat('0x', substr(md5('cavC' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 3 AS cbpc
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m),
      |-- per-4x4 block: coded gate, TotalCoeff/TrailingOnes draws,
      |-- §6.4.3 z-order position
      |blocks AS (SELECT b.container, b.t, b.mb, b.cbpl, b.cbpc, i.blk,
      |    2 * ((i.blk // 4) % 2) + (i.blk % 4) % 2 AS bx,
      |    2 * ((i.blk // 4) // 2) + (i.blk % 4) // 2 AS gy,
      |    ((b.cbpl >> (i.blk // 4)) & 1) = 1 AS coded,
      |    1 + CAST(concat('0x', substr(md5('cavT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6
      |      AS tc,
      |    least(CAST(concat('0x', substr(md5('cavT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6,
      |      CAST(concat('0x', substr(md5('cav1' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4)
      |      AS t1n
      |  FROM mbs b, (SELECT unnest(range(16)) AS blk) i),
      |-- §9.2.1 nC: left/above 4x4 TotalCoeff (0 when uncoded), NULL
      |-- outside the frame (2x2 MB grid)
      |nc AS (SELECT bl.*,
      |    CASE WHEN la.container IS NULL AND ab.container IS NULL THEN 0
      |      WHEN la.container IS NULL
      |        THEN (CASE WHEN ab.coded THEN ab.tc ELSE 0 END)
      |      WHEN ab.container IS NULL
      |        THEN (CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |      ELSE ((CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |        + (CASE WHEN ab.coded THEN ab.tc ELSE 0 END) + 1) // 2
      |    END AS ncv
      |  FROM blocks bl
      |  LEFT JOIN blocks la ON la.container = bl.container
      |    AND la.t = bl.t AND la.gy = bl.gy
      |    AND la.mb = (CASE WHEN bl.bx > 0 THEN bl.mb
      |      WHEN bl.mb % 2 = 1 THEN bl.mb - 1 ELSE NULL END)
      |    AND la.bx = (CASE WHEN bl.bx > 0 THEN bl.bx - 1 ELSE 3 END)
      |  LEFT JOIN blocks ab ON ab.container = bl.container
      |    AND ab.t = bl.t AND ab.bx = bl.bx
      |    AND ab.mb = (CASE WHEN bl.gy > 0 THEN bl.mb
      |      WHEN bl.mb >= 2 THEN bl.mb - 2 ELSE NULL END)
      |    AND ab.gy = (CASE WHEN bl.gy > 0 THEN bl.gy - 1 ELSE 3 END)),
      |-- coefficient draws: position 15 − 2j, trailing ones then
      |-- 2..5 magnitudes, md5 signs
      |coefs AS (SELECT b.container, b.t, b.mb, b.blk, j.j,
      |    (CASE WHEN j.j < b.t1n THEN 1
      |      ELSE 2 + CAST(concat('0x', substr(md5('cavM' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 4 END)
      |    * (CASE WHEN CAST(concat('0x', substr(md5('cavS' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END) AS v,
      |    15 - 2 * j.j AS pos
      |  FROM blocks b, (SELECT unnest(range(6)) AS j) j
      |  WHERE b.coded AND j.j < b.tc),
      |lsum AS (SELECT container, t, mb,
      |    sum(v) AS level_sum, sum(v * pos) AS pos_sum
      |  FROM coefs GROUP BY 1, 2, 3),
      |bsum AS (SELECT container, t, mb,
      |    sum(CASE WHEN coded THEN tc ELSE 0 END) AS tc_sum,
      |    sum(CASE WHEN coded THEN t1n ELSE 0 END) AS t1_sum,
      |    sum(CASE WHEN coded THEN 16 - tc ELSE 0 END) AS tz_sum,
      |    sum(CASE WHEN coded THEN ncv ELSE 0 END) AS nc_sum
      |  FROM nc GROUP BY 1, 2, 3),
      |cdc AS (SELECT m.container, m.t, m.mb,
      |    CASE WHEN m.cbpc != 0 THEN sum(
      |      1 + CAST(concat('0x', substr(md5('cavDa' || m.container || '_'
      |        || m.t || '_' || m.mb || '_' || c.comp), 1, 2)) AS BIGINT) % 3
      |      - 1 - CAST(concat('0x', substr(md5('cavDb' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp), 1, 2))
      |        AS BIGINT) % 2) ELSE 0 END AS cdc_sum
      |  FROM mbs m, (SELECT unnest(range(2)) AS comp) c
      |  GROUP BY 1, 2, 3, m.cbpc),
      |cac AS (SELECT m.container, m.t, m.mb,
      |    CASE WHEN m.cbpc = 2 THEN sum(
      |      2 + CAST(concat('0x', substr(md5('cavAa' || m.container || '_'
      |        || m.t || '_' || m.mb || '_' || c.comp || '_' || b.blk),
      |        1, 2)) AS BIGINT) % 3
      |      - 1 - CAST(concat('0x', substr(md5('cavAb' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp || '_'
      |        || b.blk), 1, 2)) AS BIGINT) % 2) ELSE 0 END AS cac_sum
      |  FROM mbs m, (SELECT unnest(range(2)) AS comp) c,
      |    (SELECT unnest(range(4)) AS blk) b
      |  GROUP BY 1, 2, 3, m.cbpc)
      |SELECT m.container, CAST(m.t AS BIGINT) AS t,
      |  CAST(m.mb AS BIGINT) AS mb,
      |  CAST(m.cbpl | (m.cbpc << 4) AS BIGINT) AS cbp,
      |  CAST(CASE WHEN m.cbpl | (m.cbpc << 4) != 0
      |    THEN CAST(concat('0x', substr(md5('cavQ' || m.container || '_'
      |      || m.t || '_' || m.mb), 1, 2)) AS BIGINT) % 5 - 2
      |    ELSE 0 END AS BIGINT) AS qp_delta,
      |  CAST(b.tc_sum AS BIGINT) AS tc_sum,
      |  CAST(b.t1_sum AS BIGINT) AS t1_sum,
      |  CAST(b.tz_sum AS BIGINT) AS tz_sum,
      |  CAST(coalesce(l.level_sum, 0) AS BIGINT) AS level_sum,
      |  CAST(coalesce(l.pos_sum, 0) AS BIGINT) AS pos_sum,
      |  CAST(b.nc_sum AS BIGINT) AS nc_sum,
      |  CAST(cdc.cdc_sum AS BIGINT) AS cdc_sum,
      |  CAST(cac.cac_sum AS BIGINT) AS cac_sum
      |FROM mbs m
      |JOIN bsum b ON b.container = m.container AND b.t = m.t
      |  AND b.mb = m.mb
      |LEFT JOIN lsum l ON l.container = m.container AND l.t = m.t
      |  AND l.mb = m.mb
      |JOIN cdc ON cdc.container = m.container AND cdc.t = m.t
      |  AND cdc.mb = m.mb
      |JOIN cac ON cac.container = m.container AND cac.t = m.t
      |  AND cac.mb = m.mb
      |ORDER BY m.container, m.t, m.mb""".stripMargin

  /** m64: H.264 I_16X16 MACROBLOCKS (Table 7-11/§7.3.5.3) — the other
    * I-slice macroblock class, completing the intra story next to
    * m57/m62's Intra_4x4: mb_type 1..24 PACKS the 16x16 prediction
    * mode, CodedBlockPatternChroma and the luma-AC flag
    * (1 + pred + 4·cbpChroma + 12·[AC]); mb_qp_delta is
    * UNCONDITIONAL (§7.3.5 — I_16x16 always codes its DC block); the
    * residual splits luma into one Intra16x16DCLevel (16 coeffs,
    * §9.2.1 nC from the luma-neighbor grid) and, under the AC flag,
    * sixteen 15-coefficient AC blocks whose TotalCoeff bookkeeping
    * folds the DC count into block 0 — then chroma DC/AC as in m62.
    * The oracle replays the mb_type packing, the draws, and the DC
    * block's nC off the previous MB's column-3 counts. Scale: the m40
    * envelope. */
  private[operators] object H264I16Kernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      def dcBlk(t: Int, mb: Int): Array[Int] = {
        val c = new Array[Int](16)
        val tc = 1 + hexbyte(s"i16T${k}_${t}_$mb") % 5
        val t1 = math.min(tc - 1, hexbyte(s"i161${k}_${t}_$mb") % 4)
        (0 until tc).foreach { j =>
          val mag = if (j < t1) 1
            else 2 + hexbyte(s"i16M${k}_${t}_${mb}_$j") % 4
          val neg = hexbyte(s"i16S${k}_${t}_${mb}_$j") % 2 == 1
          c(15 - 3 * j) = if (neg) -mag else mag
        }
        c
      }
      def acBlk(t: Int, mb: Int, blk: Int): Array[Int] = {
        val c = new Array[Int](15)
        val tc = 1 + hexbyte(s"i16U${k}_${t}_${mb}_$blk") % 4
        val t1 = math.min(tc - 1, hexbyte(s"i162${k}_${t}_${mb}_$blk") % 4)
        (0 until tc).foreach { j =>
          val mag = if (j < t1) 1
            else 2 + hexbyte(s"i16N${k}_${t}_${mb}_${blk}_$j") % 4
          val neg = hexbyte(s"i16R${k}_${t}_${mb}_${blk}_$j") % 2 == 1
          c(14 - 2 * j) = if (neg) -mag else mag
        }
        c
      }
      val startCode = Array[Byte](0, 0, 0, 1)
      val slices = (0 until n).map { t =>
        val preds = Vector.tabulate(4)(mb =>
          hexbyte(s"i16p${k}_${t}_$mb") % 4)
        val cbpC = Vector.tabulate(4)(mb =>
          hexbyte(s"i16c${k}_${t}_$mb") % 3)
        val acOn = Vector.tabulate(4)(mb =>
          hexbyte(s"i16a${k}_${t}_$mb") % 2 == 1)
        val qpd = Vector.tabulate(4)(mb =>
          hexbyte(s"i16q${k}_${t}_$mb") % 5 - 2)
        val lumaDc = Vector.tabulate(4)(dcBlk(t, _))
        val lumaAc = Vector.tabulate(4)(mb =>
          if (acOn(mb)) Vector.tabulate(16)(acBlk(t, mb, _))
          else Vector.empty[Array[Int]])
        val cdc = Vector.tabulate(4)(mb =>
          if (cbpC(mb) != 0) Vector.tabulate(2)(comp => Array(
            1 + hexbyte(s"i16Da${k}_${t}_${mb}_$comp") % 3, 0,
            -(1 + hexbyte(s"i16Db${k}_${t}_${mb}_$comp") % 2), 0))
          else Vector.empty[Array[Int]])
        val cac = Vector.tabulate(4)(mb =>
          if (cbpC(mb) == 2) Vector.tabulate(2)(comp =>
            Vector.tabulate(4) { blk =>
              val c = new Array[Int](15)
              c(blk) = 2 + hexbyte(s"i16Aa${k}_${t}_${mb}_${comp}_$blk") % 3
              c(blk + 4) =
                -1 - hexbyte(s"i16Ab${k}_${t}_${mb}_${comp}_$blk") % 2
              c
            })
          else Vector.fill(2)(Vector.fill(4)(Array.empty[Int])))
        H264.writeI16Slice(0, sps, pps, preds,
          Vector.fill(4)(1), cbpC, qpd, lumaDc, lumaAc, cdc, cac,
          idrPicId = t)
      }
      val annexB = (Seq(spsNal, ppsNal) ++ slices)
        .flatMap(nal => startCode ++ nal).toArray
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == n + 2, s"container $k: NAL count drift")
      nals.drop(2).iterator.zipWithIndex.flatMap { case (nal, t) =>
        val (info, mbs) = H264.parseI16Slice(nal, sps, pps)
        require(info.idr && info.idrPicId == t,
          s"container $k slice $t: header drift")
        mbs.zipWithIndex.iterator.map { case (m, mb) =>
          require(m.lumaDc.toSeq == dcBlk(t, mb).toSeq,
            s"container $k slice $t MB $mb: DC drift")
          if (m.acCoded) (0 until 16).foreach(b =>
            require(m.lumaAc(b).toSeq == acBlk(t, mb, b).toSeq,
              s"container $k slice $t MB $mb AC $b: drift"))
          val acTc = m.lumaAc.map(b =>
            graft.sources.H264.Cavlc.stats(b)._1.toLong).sum
          (k, t.toLong, mb.toLong,
            H264.i16MbType(m.predMode, m.cbpChroma, m.acCoded).toLong,
            m.qpDelta.toLong,
            graft.sources.H264.Cavlc.stats(m.lumaDc)._1.toLong,
            m.lumaDc.map(_.toLong).sum,
            m.lumaDc.zipWithIndex.map { case (v, p) => v.toLong * p }.sum,
            acTc,
            m.lumaAc.map(_.map(_.toLong).sum).sum,
            m.ncDc.toLong,
            m.chromaDc.map(_.map(_.toLong).sum).sum +
              m.chromaAc.map(_.map(_.map(_.toLong).sum).sum).sum)
        }
      }
    }
  }

  private def m64(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264I16Kernel.rows)
      .toDF("container", "t", "mb", "mb_type", "qp_delta", "dc_tc",
        "dc_level_sum", "dc_pos_sum", "ac_tc_sum", "ac_level_sum",
        "nc_dc", "chroma_sum")
      .orderBy(col("container"), col("t"), col("mb"))
  }

  private val m64Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mbs AS (SELECT container, t, m.mb,
      |    CAST(concat('0x', substr(md5('i16p' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 4 AS pred,
      |    CAST(concat('0x', substr(md5('i16c' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 3 AS cbpc,
      |    CAST(concat('0x', substr(md5('i16a' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 2 = 1 AS ac,
      |    CAST(concat('0x', substr(md5('i16q' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 5 - 2 AS qpd,
      |    1 + CAST(concat('0x', substr(md5('i16T' || container || '_'
      |      || t || '_' || m.mb), 1, 2)) AS BIGINT) % 5 AS dctc,
      |    least(CAST(concat('0x', substr(md5('i16T' || container || '_'
      |      || t || '_' || m.mb), 1, 2)) AS BIGINT) % 5,
      |      CAST(concat('0x', substr(md5('i161' || container || '_'
      |      || t || '_' || m.mb), 1, 2)) AS BIGINT) % 4) AS dct1
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m),
      |-- DC coefficient draws at scan positions 15 − 3j
      |dcv AS (SELECT b.container, b.t, b.mb, j.j,
      |    (CASE WHEN j.j < b.dct1 THEN 1
      |      ELSE 2 + CAST(concat('0x', substr(md5('i16M' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || j.j), 1, 2))
      |        AS BIGINT) % 4 END)
      |    * (CASE WHEN CAST(concat('0x', substr(md5('i16S' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || j.j), 1, 2))
      |        AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END) AS v,
      |    15 - 3 * j.j AS pos
      |  FROM mbs b, (SELECT unnest(range(5)) AS j) j
      |  WHERE j.j < b.dctc),
      |dcagg AS (SELECT container, t, mb, sum(v) AS dc_level_sum,
      |    sum(v * pos) AS dc_pos_sum
      |  FROM dcv GROUP BY 1, 2, 3),
      |-- AC TotalCoeff draws per 4x4 block (values only when AC on)
      |acb AS (SELECT b.container, b.t, b.mb, b.ac, i.blk,
      |    2 * ((i.blk // 4) % 2) + (i.blk % 4) % 2 AS bx,
      |    2 * ((i.blk // 4) // 2) + (i.blk % 4) // 2 AS gy,
      |    1 + CAST(concat('0x', substr(md5('i16U' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4
      |      AS tc,
      |    least(CAST(concat('0x', substr(md5('i16U' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4,
      |      CAST(concat('0x', substr(md5('i162' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4)
      |      AS t1n
      |  FROM mbs b, (SELECT unnest(range(16)) AS blk) i),
      |acv AS (SELECT a.container, a.t, a.mb, a.blk, j.j,
      |    (CASE WHEN j.j < a.t1n THEN 1
      |      ELSE 2 + CAST(concat('0x', substr(md5('i16N' || a.container
      |        || '_' || a.t || '_' || a.mb || '_' || a.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 4 END)
      |    * (CASE WHEN CAST(concat('0x', substr(md5('i16R' || a.container
      |        || '_' || a.t || '_' || a.mb || '_' || a.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END) AS v
      |  FROM acb a, (SELECT unnest(range(4)) AS j) j
      |  WHERE a.ac AND j.j < a.tc),
      |acagg AS (SELECT container, t, mb, sum(v) AS ac_level_sum
      |  FROM acv GROUP BY 1, 2, 3),
      |actc AS (SELECT container, t, mb,
      |    sum(CASE WHEN ac THEN tc ELSE 0 END) AS ac_tc_sum
      |  FROM acb GROUP BY 1, 2, 3),
      |-- the DC block's §9.2.1 nC: left MB's block (3,0) / above MB's
      |-- block (0,3) TotalCoeff — AC count with DC folded into blk 0
      |tcg AS (SELECT a.container, a.t, a.mb, a.bx, a.gy,
      |    (CASE WHEN a.ac THEN a.tc ELSE 0 END)
      |      + (CASE WHEN a.blk = 0 THEN m.dctc ELSE 0 END) AS tcv
      |  FROM acb a JOIN mbs m ON m.container = a.container
      |    AND m.t = a.t AND m.mb = a.mb),
      |ncdc AS (SELECT m.container, m.t, m.mb,
      |    CASE WHEN m.mb = 0 THEN 0
      |      WHEN m.mb = 1 OR m.mb = 2 THEN coalesce(nb.tcv, 0)
      |      ELSE (coalesce(la.tcv, 0) + coalesce(ab.tcv, 0) + 1) // 2
      |    END AS nc_dc
      |  FROM mbs m
      |  LEFT JOIN tcg nb ON nb.container = m.container AND nb.t = m.t
      |    AND nb.mb = (CASE WHEN m.mb = 1 THEN 0 WHEN m.mb = 2 THEN 0
      |      ELSE NULL END)
      |    AND nb.bx = (CASE WHEN m.mb = 1 THEN 3 ELSE 0 END)
      |    AND nb.gy = (CASE WHEN m.mb = 1 THEN 0 ELSE 3 END)
      |  LEFT JOIN tcg la ON la.container = m.container AND la.t = m.t
      |    AND la.mb = 2 AND la.bx = 3 AND la.gy = 0 AND m.mb = 3
      |  LEFT JOIN tcg ab ON ab.container = m.container AND ab.t = m.t
      |    AND ab.mb = 1 AND ab.bx = 0 AND ab.gy = 3 AND m.mb = 3),
      |chr AS (SELECT m.container, m.t, m.mb,
      |    sum(CASE WHEN m.cbpc != 0 THEN
      |      1 + CAST(concat('0x', substr(md5('i16Da' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp), 1, 2))
      |        AS BIGINT) % 3
      |      - 1 - CAST(concat('0x', substr(md5('i16Db' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp), 1, 2))
      |        AS BIGINT) % 2 ELSE 0 END) AS cdc_sum,
      |    sum(CASE WHEN m.cbpc = 2 THEN
      |      (SELECT sum(2 + CAST(concat('0x', substr(md5('i16Aa'
      |          || m.container || '_' || m.t || '_' || m.mb || '_'
      |          || c.comp || '_' || b.blk), 1, 2)) AS BIGINT) % 3
      |        - 1 - CAST(concat('0x', substr(md5('i16Ab' || m.container
      |          || '_' || m.t || '_' || m.mb || '_' || c.comp || '_'
      |          || b.blk), 1, 2)) AS BIGINT) % 2)
      |       FROM (SELECT unnest(range(4)) AS blk) b) ELSE 0 END)
      |      AS cac_sum
      |  FROM mbs m, (SELECT unnest(range(2)) AS comp) c
      |  GROUP BY 1, 2, 3)
      |SELECT m.container, CAST(m.t AS BIGINT) AS t,
      |  CAST(m.mb AS BIGINT) AS mb,
      |  CAST(1 + m.pred + 4 * m.cbpc
      |    + (CASE WHEN m.ac THEN 12 ELSE 0 END) AS BIGINT) AS mb_type,
      |  CAST(m.qpd AS BIGINT) AS qp_delta,
      |  CAST(m.dctc AS BIGINT) AS dc_tc,
      |  CAST(d.dc_level_sum AS BIGINT) AS dc_level_sum,
      |  CAST(d.dc_pos_sum AS BIGINT) AS dc_pos_sum,
      |  CAST(CASE WHEN m.ac THEN a.ac_tc_sum ELSE 0 END AS BIGINT)
      |    AS ac_tc_sum,
      |  CAST(coalesce(av.ac_level_sum, 0) AS BIGINT) AS ac_level_sum,
      |  CAST(n.nc_dc AS BIGINT) AS nc_dc,
      |  CAST(ch.cdc_sum + ch.cac_sum AS BIGINT) AS chroma_sum
      |FROM mbs m
      |JOIN dcagg d ON d.container = m.container AND d.t = m.t
      |  AND d.mb = m.mb
      |JOIN actc a ON a.container = m.container AND a.t = m.t
      |  AND a.mb = m.mb
      |LEFT JOIN acagg av ON av.container = m.container AND av.t = m.t
      |  AND av.mb = m.mb
      |JOIN ncdc n ON n.container = m.container AND n.t = m.t
      |  AND n.mb = m.mb
      |JOIN chr ch ON ch.container = m.container AND ch.t = m.t
      |  AND ch.mb = m.mb
      |ORDER BY m.container, m.t, m.mb""".stripMargin

  /** m65: H.264 P-SLICE MACROBLOCKS (§7.3.4/Table 7-13) — the inter
    * layer over m62's CAVLC: real P slices interleave mb_skip_run
    * ue(v) with coded P_L0_16x16 macroblocks (motion-vector
    * difference se(v)×2 — ref_idx absent with one active reference),
    * coded_block_pattern me(v) through the INTER column seam
    * ([[graft.sources.H264.CbpInterMap]]), mb_qp_delta under CBP ≠ 0,
    * and the §7.3.5.3 residual walk; a TRAILING skip run closes the
    * slice (§7.3.4's more_rbsp_data loop), and skipped macroblocks
    * count ZERO in their neighbors' §9.2.1 nC contexts. The oracle
    * replays the skip lattice, mvd draws, and the m62 residual
    * machinery under the skip gate. Scale: the m40 envelope. */
  private[operators] object H264PSliceKernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      def skippedOf(t: Int, mb: Int): Boolean =
        hexbyte(s"pskS${k}_${t}_$mb") % 3 == 0
      def lumaBlk(t: Int, mb: Int, blk: Int): Array[Int] = {
        val c = new Array[Int](16)
        val tc = 1 + hexbyte(s"pskT${k}_${t}_${mb}_$blk") % 6
        val t1 = math.min(tc - 1, hexbyte(s"psk1${k}_${t}_${mb}_$blk") % 4)
        (0 until tc).foreach { j =>
          val mag = if (j < t1) 1
            else 2 + hexbyte(s"pskM${k}_${t}_${mb}_${blk}_$j") % 4
          val neg = hexbyte(s"pskZ${k}_${t}_${mb}_${blk}_$j") % 2 == 1
          c(15 - 2 * j) = if (neg) -mag else mag
        }
        c
      }
      val startCode = Array[Byte](0, 0, 0, 1)
      val slices = (0 until n).map { t =>
        val skip = Vector.tabulate(4)(skippedOf(t, _))
        val cbps = Vector.tabulate(4) { mb =>
          if (skip(mb)) 0
          else (hexbyte(s"pskL${k}_${t}_$mb") % 16) |
            ((hexbyte(s"pskC${k}_${t}_$mb") % 3) << 4)
        }
        val mvd = Vector.tabulate(4) { mb =>
          if (skip(mb)) (0, 0)
          else (hexbyte(s"pskX${k}_${t}_$mb") % 17 - 8,
            hexbyte(s"pskY${k}_${t}_$mb") % 17 - 8)
        }
        val qpd = Vector.tabulate(4)(mb =>
          if (cbps(mb) != 0) hexbyte(s"pskQ${k}_${t}_$mb") % 5 - 2
          else 0)
        val luma = Vector.tabulate(4)(mb => Vector.tabulate(16)(blk =>
          if (!skip(mb) && (cbps(mb) & (1 << (blk / 4))) != 0)
            lumaBlk(t, mb, blk)
          else Array.empty[Int]))
        val cdc = Vector.tabulate(4)(mb =>
          if ((cbps(mb) >> 4) != 0) Vector.tabulate(2)(comp => Array(
            1 + hexbyte(s"pskDa${k}_${t}_${mb}_$comp") % 3, 0,
            -(1 + hexbyte(s"pskDb${k}_${t}_${mb}_$comp") % 2), 0))
          else Vector.empty[Array[Int]])
        val cac = Vector.tabulate(4)(mb =>
          if ((cbps(mb) >> 4) == 2) Vector.tabulate(2)(comp =>
            Vector.tabulate(4) { blk =>
              val c = new Array[Int](15)
              c(blk) = 2 + hexbyte(s"pskAa${k}_${t}_${mb}_${comp}_$blk") % 3
              c(blk + 4) =
                -1 - hexbyte(s"pskAb${k}_${t}_${mb}_${comp}_$blk") % 2
              c
            })
          else Vector.fill(2)(Vector.fill(4)(Array.empty[Int])))
        H264.writePSlice(t, sps, pps, skip, mvd, cbps, qpd,
          luma, cdc, cac)
      }
      val annexB = (Seq(spsNal, ppsNal) ++ slices)
        .flatMap(nal => startCode ++ nal).toArray
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == n + 2, s"container $k: NAL count drift")
      nals.drop(2).iterator.zipWithIndex.flatMap { case (nal, t) =>
        val (info, mbs) = H264.parsePSlice(nal, sps, pps)
        require(info.isP && info.frameNum == t,
          s"container $k slice $t: header drift")
        mbs.zipWithIndex.iterator.map { case (m, mb) =>
          require(m.skipped == skippedOf(t, mb),
            s"container $k slice $t MB $mb: skip-run drift")
          m.luma.zipWithIndex.foreach { case (c, blk) =>
            val want =
              if (!m.skipped && (m.cbp & (1 << (blk / 4))) != 0)
                lumaBlk(t, mb, blk)
              else Array.empty[Int]
            require(c.toSeq == want.toSeq,
              s"container $k slice $t MB $mb blk $blk: CAVLC drift")
          }
          val codedBlks = m.luma.zipWithIndex.filter(_._1.nonEmpty)
          val stats = codedBlks.map(b =>
            graft.sources.H264.Cavlc.stats(b._1))
          (k, t.toLong, mb.toLong,
            if (m.skipped) 1L else 0L, m.mvdX.toLong, m.mvdY.toLong,
            m.cbp.toLong, m.qpDelta.toLong,
            stats.map(_._1.toLong).sum,
            codedBlks.map(_._1.map(_.toLong).sum).sum,
            codedBlks.map(b => m.ncLuma(b._2).toLong).sum,
            m.chromaDc.map(_.map(_.toLong).sum).sum +
              m.chromaAc.map(_.map(_.map(_.toLong).sum).sum).sum)
        }
      }
    }
  }

  private def m65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264PSliceKernel.rows)
      .toDF("container", "t", "mb", "skipped", "mvd_x", "mvd_y",
        "cbp", "qp_delta", "tc_sum", "level_sum", "nc_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"), col("mb"))
  }

  private val m65Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mbs AS (SELECT container, t, m.mb,
      |    CAST(concat('0x', substr(md5('pskS' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 3 = 0 AS skipped,
      |    CAST(concat('0x', substr(md5('pskL' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 16 AS cbpl0,
      |    CAST(concat('0x', substr(md5('pskC' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 3 AS cbpc0
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m),
      |mbs2 AS (SELECT container, t, mb, skipped,
      |    CASE WHEN skipped THEN 0 ELSE cbpl0 END AS cbpl,
      |    CASE WHEN skipped THEN 0 ELSE cbpc0 END AS cbpc
      |  FROM mbs),
      |blocks AS (SELECT b.container, b.t, b.mb, b.skipped, b.cbpl,
      |    b.cbpc, i.blk,
      |    2 * ((i.blk // 4) % 2) + (i.blk % 4) % 2 AS bx,
      |    2 * ((i.blk // 4) // 2) + (i.blk % 4) // 2 AS gy,
      |    NOT b.skipped AND ((b.cbpl >> (i.blk // 4)) & 1) = 1 AS coded,
      |    1 + CAST(concat('0x', substr(md5('pskT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6
      |      AS tc,
      |    least(CAST(concat('0x', substr(md5('pskT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6,
      |      CAST(concat('0x', substr(md5('psk1' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4)
      |      AS t1n
      |  FROM mbs2 b, (SELECT unnest(range(16)) AS blk) i),
      |nc AS (SELECT bl.*,
      |    CASE WHEN la.container IS NULL AND ab.container IS NULL THEN 0
      |      WHEN la.container IS NULL
      |        THEN (CASE WHEN ab.coded THEN ab.tc ELSE 0 END)
      |      WHEN ab.container IS NULL
      |        THEN (CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |      ELSE ((CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |        + (CASE WHEN ab.coded THEN ab.tc ELSE 0 END) + 1) // 2
      |    END AS ncv
      |  FROM blocks bl
      |  LEFT JOIN blocks la ON la.container = bl.container
      |    AND la.t = bl.t AND la.gy = bl.gy
      |    AND la.mb = (CASE WHEN bl.bx > 0 THEN bl.mb
      |      WHEN bl.mb % 2 = 1 THEN bl.mb - 1 ELSE NULL END)
      |    AND la.bx = (CASE WHEN bl.bx > 0 THEN bl.bx - 1 ELSE 3 END)
      |  LEFT JOIN blocks ab ON ab.container = bl.container
      |    AND ab.t = bl.t AND ab.bx = bl.bx
      |    AND ab.mb = (CASE WHEN bl.gy > 0 THEN bl.mb
      |      WHEN bl.mb >= 2 THEN bl.mb - 2 ELSE NULL END)
      |    AND ab.gy = (CASE WHEN bl.gy > 0 THEN bl.gy - 1 ELSE 3 END)),
      |coefs AS (SELECT b.container, b.t, b.mb, b.blk, j.j,
      |    (CASE WHEN j.j < b.t1n THEN 1
      |      ELSE 2 + CAST(concat('0x', substr(md5('pskM' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 4 END)
      |    * (CASE WHEN CAST(concat('0x', substr(md5('pskZ' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END) AS v
      |  FROM blocks b, (SELECT unnest(range(6)) AS j) j
      |  WHERE b.coded AND j.j < b.tc),
      |lsum AS (SELECT container, t, mb, sum(v) AS level_sum
      |  FROM coefs GROUP BY 1, 2, 3),
      |bsum AS (SELECT container, t, mb,
      |    sum(CASE WHEN coded THEN tc ELSE 0 END) AS tc_sum,
      |    sum(CASE WHEN coded THEN ncv ELSE 0 END) AS nc_sum
      |  FROM nc GROUP BY 1, 2, 3),
      |cdc AS (SELECT m.container, m.t, m.mb,
      |    CASE WHEN m.cbpc != 0 THEN sum(
      |      1 + CAST(concat('0x', substr(md5('pskDa' || m.container || '_'
      |        || m.t || '_' || m.mb || '_' || c.comp), 1, 2)) AS BIGINT) % 3
      |      - 1 - CAST(concat('0x', substr(md5('pskDb' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp), 1, 2))
      |        AS BIGINT) % 2) ELSE 0 END AS cdc_sum
      |  FROM mbs2 m, (SELECT unnest(range(2)) AS comp) c
      |  GROUP BY 1, 2, 3, m.cbpc),
      |cac AS (SELECT m.container, m.t, m.mb,
      |    CASE WHEN m.cbpc = 2 THEN sum(
      |      2 + CAST(concat('0x', substr(md5('pskAa' || m.container || '_'
      |        || m.t || '_' || m.mb || '_' || c.comp || '_' || b.blk),
      |        1, 2)) AS BIGINT) % 3
      |      - 1 - CAST(concat('0x', substr(md5('pskAb' || m.container
      |        || '_' || m.t || '_' || m.mb || '_' || c.comp || '_'
      |        || b.blk), 1, 2)) AS BIGINT) % 2) ELSE 0 END AS cac_sum
      |  FROM mbs2 m, (SELECT unnest(range(2)) AS comp) c,
      |    (SELECT unnest(range(4)) AS blk) b
      |  GROUP BY 1, 2, 3, m.cbpc)
      |SELECT m.container, CAST(m.t AS BIGINT) AS t,
      |  CAST(m.mb AS BIGINT) AS mb,
      |  CAST(CASE WHEN m.skipped THEN 1 ELSE 0 END AS BIGINT) AS skipped,
      |  CAST(CASE WHEN m.skipped THEN 0
      |    ELSE CAST(concat('0x', substr(md5('pskX' || m.container || '_'
      |      || m.t || '_' || m.mb), 1, 2)) AS BIGINT) % 17 - 8 END
      |    AS BIGINT) AS mvd_x,
      |  CAST(CASE WHEN m.skipped THEN 0
      |    ELSE CAST(concat('0x', substr(md5('pskY' || m.container || '_'
      |      || m.t || '_' || m.mb), 1, 2)) AS BIGINT) % 17 - 8 END
      |    AS BIGINT) AS mvd_y,
      |  CAST(m.cbpl | (m.cbpc << 4) AS BIGINT) AS cbp,
      |  CAST(CASE WHEN m.cbpl | (m.cbpc << 4) != 0
      |    THEN CAST(concat('0x', substr(md5('pskQ' || m.container || '_'
      |      || m.t || '_' || m.mb), 1, 2)) AS BIGINT) % 5 - 2
      |    ELSE 0 END AS BIGINT) AS qp_delta,
      |  CAST(b.tc_sum AS BIGINT) AS tc_sum,
      |  CAST(coalesce(l.level_sum, 0) AS BIGINT) AS level_sum,
      |  CAST(b.nc_sum AS BIGINT) AS nc_sum,
      |  CAST(cdc.cdc_sum + cac.cac_sum AS BIGINT) AS chroma_sum
      |FROM mbs2 m
      |JOIN bsum b ON b.container = m.container AND b.t = m.t
      |  AND b.mb = m.mb
      |LEFT JOIN lsum l ON l.container = m.container AND l.t = m.t
      |  AND l.mb = m.mb
      |JOIN cdc ON cdc.container = m.container AND cdc.t = m.t
      |  AND cdc.mb = m.mb
      |JOIN cac ON cac.container = m.container AND cac.t = m.t
      |  AND cac.mb = m.mb
      |ORDER BY m.container, m.t, m.mb""".stripMargin

  /** m66: H.264 MULTI-SLICE PICTURES (§6.4.8/§7.4.1) — the slice
    * self-containedness real encoders use for error resilience and
    * parallelism: each picture splits into TWO slices at a drawn
    * boundary (first_mb_in_slice > 0 on the second), and §6.4.8 stops
    * BOTH §8.3.1.1 mode prediction and the §9.2.1 nC context at the
    * boundary — a boundary MB's above neighbor that decoded fine in
    * the same picture is UNAVAILABLE because it lives in the previous
    * slice, so its blocks read DC predictions and zero/edge contexts.
    * The oracle replays m62's residual machinery with the
    * availability gate keyed on each MB's slice start. Scale: the m40
    * envelope. */
  private[operators] object H264MultiSliceKernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long)] = {
      import graft.sources.H264
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val spsNal = H264.writeSps(32, 32)
      val ppsNal = H264.writePps()
      val sps = H264.parseSps(spsNal)
      val pps = H264.parsePps(ppsNal)
      def lumaBlk(t: Int, mb: Int, blk: Int): Array[Int] = {
        val c = new Array[Int](16)
        val tc = 1 + hexbyte(s"mslT${k}_${t}_${mb}_$blk") % 6
        val t1 = math.min(tc - 1, hexbyte(s"msl1${k}_${t}_${mb}_$blk") % 4)
        (0 until tc).foreach { j =>
          val mag = if (j < t1) 1
            else 2 + hexbyte(s"mslM${k}_${t}_${mb}_${blk}_$j") % 4
          val neg = hexbyte(s"mslS${k}_${t}_${mb}_${blk}_$j") % 2 == 1
          c(15 - 2 * j) = if (neg) -mag else mag
        }
        c
      }
      val startCode = Array[Byte](0, 0, 0, 1)
      val pictures = (0 until n).map { t =>
        val split = 1 + hexbyte(s"mslB${k}_$t") % 3
        def cbpOf(mb: Int): Int =
          (hexbyte(s"mslL${k}_${t}_$mb") % 16) |
            ((hexbyte(s"mslC${k}_${t}_$mb") % 3) << 4)
        def sliceNal(firstMb: Int, cnt: Int): Array[Byte] = {
          val mbs = firstMb until firstMb + cnt
          H264.writeIntraCodedSlice(0, sps, pps,
            mbs.map(_ => Array.fill(16)(2)).toVector,
            mbs.map(_ => 1).toVector,
            mbs.map(cbpOf).toVector,
            mbs.map(mb => if (cbpOf(mb) != 0)
              hexbyte(s"mslQ${k}_${t}_$mb") % 5 - 2 else 0).toVector,
            mbs.map(mb => Vector.tabulate(16)(blk =>
              if ((cbpOf(mb) & (1 << (blk / 4))) != 0) lumaBlk(t, mb, blk)
              else Array.empty[Int])).toVector,
            mbs.map(mb =>
              if ((cbpOf(mb) >> 4) != 0) Vector.tabulate(2)(comp => Array(
                1 + hexbyte(s"mslDa${k}_${t}_${mb}_$comp") % 3, 0,
                -(1 + hexbyte(s"mslDb${k}_${t}_${mb}_$comp") % 2), 0))
              else Vector(Array.empty[Int], Array.empty[Int])).toVector,
            mbs.map(mb =>
              if ((cbpOf(mb) >> 4) == 2) Vector.tabulate(2)(comp =>
                Vector.tabulate(4) { blk =>
                  val c = new Array[Int](15)
                  c(blk) =
                    2 + hexbyte(s"mslAa${k}_${t}_${mb}_${comp}_$blk") % 3
                  c(blk + 4) =
                    -1 - hexbyte(s"mslAb${k}_${t}_${mb}_${comp}_$blk") % 2
                  c
                })
              else Vector.fill(2)(Vector.fill(4)(Array.empty[Int])))
              .toVector,
            idrPicId = t, firstMb = firstMb, mbCount = cnt)
        }
        (split, sliceNal(0, split), sliceNal(split, 4 - split))
      }
      val annexB = (Seq(spsNal, ppsNal) ++
        pictures.flatMap(p => Seq(p._2, p._3)))
        .flatMap(nal => startCode ++ nal).toArray
      val nals = H264.splitAnnexB(annexB)
      require(nals.length == 2 + 2 * n, s"container $k: NAL count drift")
      pictures.iterator.zipWithIndex.flatMap { case ((split, _, _), t) =>
        val (iA, mbsA) = H264.parseIntraCodedSlice(
          nals(2 + 2 * t), sps, pps, split)
        val (iB, mbsB) = H264.parseIntraCodedSlice(
          nals(3 + 2 * t), sps, pps, 4 - split)
        require(iA.firstMb == 0 && iB.firstMb == split &&
          iA.idrPicId == t && iB.idrPicId == t,
          s"container $k picture $t: slice header drift")
        (mbsA ++ mbsB).zipWithIndex.iterator.map { case (m, mb) =>
          val codedBlks = m.luma.zipWithIndex.filter(_._1.nonEmpty)
          val stats = codedBlks.map(b =>
            graft.sources.H264.Cavlc.stats(b._1))
          (k, t.toLong, mb.toLong,
            (if (mb < split) 0 else 1).toLong, split.toLong,
            m.intra.cbp.toLong,
            stats.map(_._1.toLong).sum,
            codedBlks.map(_._1.map(_.toLong).sum).sum,
            codedBlks.map(b => m.ncLuma(b._2).toLong).sum)
        }
      }
    }
  }

  private def m66(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264MultiSliceKernel.rows)
      .toDF("container", "t", "mb", "slice_id", "split", "cbp",
        "tc_sum", "level_sum", "nc_sum")
      .orderBy(col("container"), col("t"), col("mb"))
  }

  private val m66Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t,
      |    1 + CAST(concat('0x', substr(md5('mslB' || container || '_'
      |      || g.t), 1, 2)) AS BIGINT) % 3 AS split
      |  FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mbs AS (SELECT container, t, split, m.mb,
      |    CASE WHEN m.mb < split THEN 0 ELSE split END AS first_mb,
      |    CAST(concat('0x', substr(md5('mslL' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 16 AS cbpl,
      |    CAST(concat('0x', substr(md5('mslC' || container || '_' || t
      |      || '_' || m.mb), 1, 2)) AS BIGINT) % 3 AS cbpc
      |  FROM frames, (SELECT unnest(range(4)) AS mb) m),
      |blocks AS (SELECT b.container, b.t, b.mb, b.split, b.first_mb,
      |    b.cbpl, b.cbpc, i.blk,
      |    2 * ((i.blk // 4) % 2) + (i.blk % 4) % 2 AS bx,
      |    2 * ((i.blk // 4) // 2) + (i.blk % 4) // 2 AS gy,
      |    ((b.cbpl >> (i.blk // 4)) & 1) = 1 AS coded,
      |    1 + CAST(concat('0x', substr(md5('mslT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6
      |      AS tc,
      |    least(CAST(concat('0x', substr(md5('mslT' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 6,
      |      CAST(concat('0x', substr(md5('msl1' || b.container || '_'
      |      || b.t || '_' || b.mb || '_' || i.blk), 1, 2)) AS BIGINT) % 4)
      |      AS t1n
      |  FROM mbs b, (SELECT unnest(range(16)) AS blk) i),
      |-- §9.2.1 with the §6.4.8 slice gate: a neighbor inside the
      |-- frame but BEFORE the querying MB's slice start is UNAVAILABLE
      |nc AS (SELECT bl.*,
      |    CASE WHEN (la.container IS NULL OR la.mb < bl.first_mb)
      |        AND (ab.container IS NULL OR ab.mb < bl.first_mb) THEN 0
      |      WHEN la.container IS NULL OR la.mb < bl.first_mb
      |        THEN (CASE WHEN ab.coded THEN ab.tc ELSE 0 END)
      |      WHEN ab.container IS NULL OR ab.mb < bl.first_mb
      |        THEN (CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |      ELSE ((CASE WHEN la.coded THEN la.tc ELSE 0 END)
      |        + (CASE WHEN ab.coded THEN ab.tc ELSE 0 END) + 1) // 2
      |    END AS ncv
      |  FROM blocks bl
      |  LEFT JOIN blocks la ON la.container = bl.container
      |    AND la.t = bl.t AND la.gy = bl.gy
      |    AND la.mb = (CASE WHEN bl.bx > 0 THEN bl.mb
      |      WHEN bl.mb % 2 = 1 THEN bl.mb - 1 ELSE NULL END)
      |    AND la.bx = (CASE WHEN bl.bx > 0 THEN bl.bx - 1 ELSE 3 END)
      |  LEFT JOIN blocks ab ON ab.container = bl.container
      |    AND ab.t = bl.t AND ab.bx = bl.bx
      |    AND ab.mb = (CASE WHEN bl.gy > 0 THEN bl.mb
      |      WHEN bl.mb >= 2 THEN bl.mb - 2 ELSE NULL END)
      |    AND ab.gy = (CASE WHEN bl.gy > 0 THEN bl.gy - 1 ELSE 3 END)),
      |coefs AS (SELECT b.container, b.t, b.mb, b.blk, j.j,
      |    (CASE WHEN j.j < b.t1n THEN 1
      |      ELSE 2 + CAST(concat('0x', substr(md5('mslM' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 4 END)
      |    * (CASE WHEN CAST(concat('0x', substr(md5('mslS' || b.container
      |        || '_' || b.t || '_' || b.mb || '_' || b.blk || '_' || j.j),
      |        1, 2)) AS BIGINT) % 2 = 1 THEN -1 ELSE 1 END) AS v
      |  FROM blocks b, (SELECT unnest(range(6)) AS j) j
      |  WHERE b.coded AND j.j < b.tc),
      |lsum AS (SELECT container, t, mb, sum(v) AS level_sum
      |  FROM coefs GROUP BY 1, 2, 3),
      |bsum AS (SELECT container, t, mb,
      |    sum(CASE WHEN coded THEN tc ELSE 0 END) AS tc_sum,
      |    sum(CASE WHEN coded THEN ncv ELSE 0 END) AS nc_sum
      |  FROM nc GROUP BY 1, 2, 3)
      |SELECT m.container, CAST(m.t AS BIGINT) AS t,
      |  CAST(m.mb AS BIGINT) AS mb,
      |  CAST(CASE WHEN m.mb < m.split THEN 0 ELSE 1 END AS BIGINT)
      |    AS slice_id,
      |  CAST(m.split AS BIGINT) AS split,
      |  CAST(m.cbpl | (m.cbpc << 4) AS BIGINT) AS cbp,
      |  CAST(b.tc_sum AS BIGINT) AS tc_sum,
      |  CAST(coalesce(l.level_sum, 0) AS BIGINT) AS level_sum,
      |  CAST(b.nc_sum AS BIGINT) AS nc_sum
      |FROM mbs m
      |JOIN bsum b ON b.container = m.container AND b.t = m.t
      |  AND b.mb = m.mb
      |LEFT JOIN lsum l ON l.container = m.container AND l.t = m.t
      |  AND l.mb = m.mb
      |ORDER BY m.container, m.t, m.mb""".stripMargin

  /** m67: AAC-IN-MP4, DECODED END-TO-END — the reference's DEFAULT
    * container/codec pairing (every container test opens with
    * ("mp4", "aac"), /root/reference/tests/media/test_containers.py:20,
    * via libav): AAC-LC SCE raw_data_blocks ride a classic-MP4 audio
    * track (mp4a sample entry, stts/stsc/stsz/stco tables — the m35
    * layout) as whole samples; the demuxed payloads walk back through
    * [[graft.sources.Aac.demuxSce]] with every ics_info / scalefactor
    * / TNS / spectral field under the oracle — the p25 structural
    * machinery on container-salted draws, with the mp4 SAMPLE SIZE
    * pinned against the independently-computed AAC bit budget (the
    * two layers must agree byte-for-byte or the sample table lies).
    * Scale: the m40 envelope. */
  private[operators] object AacMp4Kernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)] = {
      import graft.sources.{Aac, IsoBmff}
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      def mags(cb: Int): Array[Int] =
        if (cb >= 11) Array(0, 1, 8, 27)
        else if (cb >= 9) Array(0, 1, 8)
        else Array(0, 1)
      def sce(t: Int): Aac.AacIcs = {
        val fi = t + k.toInt * 7 // container-salted frame index
        val ws = Array(0, 2, 1, 3)(fi % 4)
        val short = ws == 2
        val maxSfb = if (short) 4 else 6 + fi % 3
        val grouping = if (short) (fi * 37) % 128 else 0
        val info = Aac.IcsInfo(ws, fi % 2, maxSfb, grouping)
        val cycleL = Array(1, 3, 5, 7, 9, 11, 6, 0)
        val cycleS = Array(3, 9, 11, 5)
        def cb(w: Int): Int =
          if (short) cycleS((fi + w) % 4) else cycleL((fi + w) % 8)
        val groups = info.groupLens
        val sections = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(w =>
            Aac.Section(cb(w), w, w + 1)))
        def dpcmOf(w: Int): Int =
          if (short) (if (w % 2 == 0) 4 else -4)
          else 4 * (((fi + w) % 3) - 1)
        val dpcm = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.filter(cb(_) != 0).map(dpcmOf))
        val counters = scala.collection.mutable.Map[Int, Int]()
        val spectral = groups.indices.toVector.map { gi =>
          (0 until maxSfb).toVector.map { w =>
            if (cb(w) == 0) Vector.empty[Int]
            else Vector.fill(info.sfbWidth(w, groups(gi))) {
              val t2 = counters.getOrElse(w, 0); counters(w) = t2 + 1
              val a = mags(cb(w))
              val m = a((fi * 5 + w * 11 + t2 * 7) % a.length)
              if (m != 0 && (t2 + fi) % 2 == 1) -m else m
            }
          }
        }
        val tns = if (!short && fi % 2 == 0) Some(Vector(
          Aac.TnsFilter((fi / 2) % 2, (fi * 7) % 20, fi % 4, fi % 2, 0,
            Vector.tabulate(fi % 4)(j =>
              (fi + j * 3) % (1 << ((fi / 2) % 2 + 3))))))
        else None
        Aac.AacIcs(132 + 4 * (fi % 5), info, sections, dpcm, tns,
          spectral)
      }
      val payloads = (0 until n).map(t => Aac.muxSce(sce(t)))
      val track = IsoBmff.Mp4Track(1, "audio", "mp4a",
        sampleRate = 44100, channels = 1)
      val samples = payloads.zipWithIndex.map { case (p, t) =>
        IsoBmff.Mp4Sample(1, t * 26L, 26, keyframe = true, p)
      }
      val (tracks, rec) =
        IsoBmff.demuxFlat(IsoBmff.muxFlat(Seq(track), samples))
      require(tracks.exists(tr => tr.codec == "mp4a" &&
        tr.sampleRate == 44100 && tr.channels == 1),
        s"container $k: mp4a track drift")
      require(rec.size == n, s"container $k: mp4 sample count drift")
      rec.iterator.zipWithIndex.map { case (sm, t) =>
        require(sm.dts == t * 26L, s"container $k sample $t: dts drift")
        val (_, ics) = Aac.demuxSce(sm.payload)
        val sfs = ics.scalefactors
        val sfSum = sfs.flatten.flatten.map(_.toLong).sum
        val vals = ics.spectral.flatten.flatten
        val requant = ics.info.groupLens.indices.map { gi =>
          (0 until ics.info.maxSfb).map { w =>
            ics.spectral(gi)(w).map(v =>
              Aac.requantExact(v, sfs(gi)(w).get)).sum
          }.sum
        }.sum
        (k, t.toLong, sm.dts, sm.payload.length.toLong,
          ics.info.windowSequence.toLong,
          ics.info.groupLens.length.toLong, ics.info.maxSfb.toLong,
          sfSum, ics.tns.map(_.map(_.order.toLong).sum).getOrElse(0L),
          vals.map(v => math.abs(v).toLong).sum,
          vals.count(v => math.abs(v) >= 16).toLong, requant)
      }
    }
  }

  private def m67(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(AacMp4Kernel.rows)
      .toDF("container", "t", "dts", "sample_bytes", "window_seq",
        "num_groups", "max_sfb", "sf_sum", "tns_order", "code_sum",
        "esc_count", "requant_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m67Sql =
    s"""${viewCnt(6)}
      |f AS (SELECT container, g.t, g.t + container * 7 AS fi
      |  FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |fr AS (SELECT container, t, fi,
      |    list_extract([0, 2, 1, 3], CAST(fi % 4 + 1 AS INT)) AS ws,
      |    fi % 4 = 1 AS short,
      |    CASE WHEN fi % 4 = 1 THEN 4 ELSE 6 + fi % 3 END AS max_sfb,
      |    CASE WHEN fi % 4 = 1
      |      THEN 8 - bit_count(CAST((fi * 37) % 128 AS BIGINT))
      |      ELSE 1 END AS ng,
      |    132 + 4 * (fi % 5) AS gg
      |  FROM f),
      |sfb AS (SELECT fr.*, w.w,
      |    CASE WHEN fr.short
      |      THEN list_extract([3, 9, 11, 5],
      |        CAST((fr.fi + w.w) % 4 + 1 AS INT))
      |      ELSE list_extract([1, 3, 5, 7, 9, 11, 6, 0],
      |        CAST((fr.fi + w.w) % 8 + 1 AS INT)) END AS cb,
      |    CASE WHEN fr.short
      |      THEN (CASE WHEN w.w % 2 = 0 THEN 4 ELSE -4 END)
      |      ELSE 4 * (((fr.fi + w.w) % 3) - 1) END AS dpcm,
      |    CASE WHEN fr.short THEN 8 * (4 * w.w + 4)
      |      ELSE 4 * w.w + 4 END AS nvals
      |  FROM fr JOIN (SELECT unnest(range(12)) AS w) w
      |    ON w.w < fr.max_sfb),
      |sf AS (SELECT *,
      |    gg + sum(CASE WHEN cb != 0 THEN dpcm ELSE 0 END)
      |      OVER (PARTITION BY container, t ORDER BY w) AS sfv
      |  FROM sfb),
      |vals AS (SELECT s.container, s.t, s.fi, s.w, s.cb, s.sfv, j.t2,
      |    CASE WHEN s.cb >= 11 THEN list_extract([0, 1, 8, 27],
      |        CAST((s.fi * 5 + s.w * 11 + j.t2 * 7) % 4 + 1 AS INT))
      |      WHEN s.cb >= 9 THEN list_extract([0, 1, 8],
      |        CAST((s.fi * 5 + s.w * 11 + j.t2 * 7) % 3 + 1 AS INT))
      |      ELSE list_extract([0, 1],
      |        CAST((s.fi * 5 + s.w * 11 + j.t2 * 7) % 2 + 1 AS INT))
      |    END AS m
      |  FROM sf s JOIN (SELECT unnest(range(320)) AS t2) j
      |    ON j.t2 < s.nvals
      |  WHERE s.cb != 0),
      |vagg AS (SELECT container, t,
      |    sum(m) AS code_sum,
      |    sum(CASE WHEN m >= 16 THEN 1 ELSE 0 END) AS esc_count,
      |    sum((CASE WHEN m != 0 AND (t2 + fi) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (sfv - 100) // 4) AS BIGINT)) AS requant_sum,
      |    sum(CASE WHEN cb = 1 THEN 2 WHEN cb = 3 THEN 2
      |        WHEN cb IN (5, 6) THEN 4 WHEN cb = 7 THEN 3
      |        WHEN cb = 9 THEN 4 ELSE 5 END
      |      + CASE WHEN cb IN (1, 5, 6) THEN 0
      |        WHEN m != 0 THEN 1 ELSE 0 END
      |      + CASE WHEN cb = 11 AND m >= 16 THEN 5 ELSE 0 END) AS sbits
      |  FROM vals GROUP BY 1, 2),
      |sfagg AS (SELECT container, t,
      |    max(ng) * sum(CASE WHEN cb != 0 THEN sfv ELSE 0 END) AS sf_sum,
      |    sum(CASE WHEN cb != 0 THEN 1 ELSE 0 END) AS coded,
      |    max(ng) AS g, max(max_sfb) AS max_sfb, max(fi) AS fi,
      |    max(CASE WHEN short THEN 1 ELSE 0 END) AS short
      |  FROM sf GROUP BY 1, 2),
      |bits AS (SELECT a.container, a.t, a.fi, a.g, a.max_sfb, a.sf_sum,
      |    v.code_sum, v.esc_count, v.requant_sum,
      |    CASE WHEN a.fi % 4 != 1 AND a.fi % 2 = 0
      |      THEN a.fi % 4 ELSE 0 END AS tns_order,
      |    19
      |    + CASE WHEN a.short = 1 THEN 11 ELSE 7 END
      |    + CASE WHEN a.short = 1 THEN a.g * a.max_sfb * 7
      |        ELSE a.max_sfb * 9 END
      |    + 8 * a.coded * a.g
      |    + 3
      |    + CASE WHEN a.fi % 4 != 1 AND a.fi % 2 = 0
      |        THEN 2 + 1 + 6 + 5 + (CASE WHEN a.fi % 4 > 0
      |          THEN 2 + (a.fi % 4) * (((a.fi // 2) % 2) + 3) ELSE 0 END)
      |        ELSE 0 END
      |    + v.sbits + 3 AS rawbits
      |  FROM sfagg a JOIN vagg v ON v.container = a.container
      |    AND v.t = a.t)
      |SELECT b.container, CAST(b.t AS BIGINT) AS t,
      |  CAST(b.t * 26 AS BIGINT) AS dts,
      |  CAST((b.rawbits + 7) // 8 AS BIGINT) AS sample_bytes,
      |  CAST(fr.ws AS BIGINT) AS window_seq,
      |  CAST(b.g AS BIGINT) AS num_groups,
      |  CAST(b.max_sfb AS BIGINT) AS max_sfb,
      |  CAST(b.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(b.tns_order AS BIGINT) AS tns_order,
      |  CAST(b.code_sum AS BIGINT) AS code_sum,
      |  CAST(b.esc_count AS BIGINT) AS esc_count,
      |  CAST(b.requant_sum AS BIGINT) AS requant_sum
      |FROM bits b JOIN fr ON fr.container = b.container AND fr.t = b.t
      |ORDER BY b.container, b.t""".stripMargin

  /** m47: MIXED KEY+INTER VP8 STREAM IN WEBM, DECODED END-TO-END — the
    * exact artifact a reference user holds (vp8-in-webm with one
    * keyframe and delta frames, tests/media/test_containers.py:25):
    * complete coded frames as V_VP8 SimpleBlocks (keyframe flag set
    * only on block 0), demuxed from real Matroska with the container
    * flag cross-checked against each payload's frame_type bit, then
    * decoded through [[graft.functions.Vp8.decodeStream]] — keyframe
    * anchors, every later frame motion-compensated off the LAST
    * reference. Fixture/oracle: the m44 ZEROMV-chain closed form under
    * a webm salt, plus the 33 ms block timeline. Completes the decode
    * matrix: m42 proved keyframes-in-webm, m44/m45 inter-in-IVF; this
    * is inter-in-webm, the reference's daily shape. Scale: the m40
    * envelope. */
  private[operators] object WebmVp8StreamKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Boolean, Long, Long)] = {
      import graft.sources.{Ivf, Mkv}
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8s${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          val mbs = mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8s${k}_${t}_${j}_${c}") % 60))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs))
        }
      val blocks = payloads.zipWithIndex.map { case (p, t) =>
        Mkv.MkvBlock(1, t * 33L, keyframe = t == 0, p)
      }
      val tracks = Seq(Mkv.MkvTrack(1, "video", "V_VP8",
        width = 32, height = 32))
      val (_, rec) = Mkv.demux(Mkv.mux(tracks, blocks))
      require(rec.size == n, s"container $k: webm block count drift")
      rec.foreach { b =>
        require(Ivf.parseVp8Tag(b.payload).keyframe == b.keyframe,
          s"container $k ts ${b.tsMs}: container keyframe flag " +
            "disagrees with the bitstream frame_type bit")
      }
      val frames = Vp8.decodeStream(rec.map(_.payload))
      frames.iterator.zip(rec.iterator).zipWithIndex.map {
        case ((fr, b), t) =>
          require(fr.width == 32 && fr.height == 32,
            s"container $k frame $t: decoded dimensions drift")
          (k, t.toLong, b.tsMs, fr.keyframe,
            lumaSum(fr), chromaSum(fr))
      }
    }
  }

  private def m47(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(WebmVp8StreamKernel.rows)
      .toDF("container", "t", "ts_ms", "keyframe", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m47Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8s'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8s' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(t * 33 AS BIGINT) AS ts_ms, (t = 0) AS keyframe,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m48: SCENE DETECTION OVER DECODED VP8 PIXELS — the curation
    * pipeline consuming the codec layer's OUTPUT: a mixed stream
    * (keyframe every 4 frames re-anchoring the decoder, ZEROMV deltas
    * between) is decoded frame-by-frame and the m22-style cut rule
    * runs on the DECODED luma (|Σluma_t − Σluma_{t-1}| ≥ threshold),
    * with scene ids as the running cut count — content-based cuts, not
    * container keyframe flags (a keyframe with a similar plane does
    * NOT cut, which is the honest behavior a curation pipeline wants).
    * The oracle replays the whole chain: per-GOP keyframe column
    * prefixes, intra-GOP residual accumulation, frame deltas, the cut
    * rule and the scene-id prefix sum. Scale: the m40 envelope —
    * decode state (LAST planes) lives inside one group iterator. */
  private[operators] object Vp8SceneKernel extends Serializable {
    val CutThreshold = 3000L
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Boolean, Long)] = {
      val n = math.min(8, count)
      if (n < 2) return Iterator.empty
      val payloads = (0 until n).map { t =>
        if (t % 4 == 0) {
          val mbs = mbGrid((j, c) =>
            vp8KeyMb(1 + hexbyte(s"vp8c${k}_${t}_${j}_${c}") % 100))
          Vp8.encode(Vp8.KeyFrame(32, 32, 0, mbs))
        } else {
          val mbs = mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8c${k}_${t}_${j}_${c}") % 60))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs))
        }
      }
      val frames = Vp8.decodeStream(payloads)
      var prevLuma = 0L
      var scenes = 0L
      frames.iterator.zipWithIndex.map { case (fr, t) =>
        val luma = lumaSum(fr)
        val delta = if (t == 0) 0L else math.abs(luma - prevLuma)
        prevLuma = luma
        val cut = t == 0 || delta >= CutThreshold
        if (cut) scenes += 1
        (k, t.toLong, fr.keyframe, luma, delta, cut, scenes)
      }
    }
  }

  private def m48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8SceneKernel.rows)
      .toDF("container", "t", "keyframe", "luma_sum", "delta", "cut",
        "scene_id")
      .orderBy(col("container"), col("t"))
  }

  private val m48Sql =
    s"""${viewCnt(8)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, t // 4 AS gop, grid.j, grid.c,
      |    CASE WHEN t % 4 = 0 THEN 1 + CAST(concat('0x', substr(
      |        md5('vp8c' || container || '_' || t || '_' || grid.j
      |          || '_' || grid.c), 1, 2)) AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8c' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, gop, j, c, (v + 4) // 8 AS r FROM mb),
      |-- per GOP: the keyframe's V_PRED column prefix, then ZEROMV
      |-- residual accumulation within the GOP
      |kf AS (SELECT container, gop, j, c,
      |    sum(r) OVER (PARTITION BY container, gop, c ORDER BY j) AS kcum
      |  FROM r WHERE t % 4 = 0),
      |p AS (SELECT container, t, gop, j, c,
      |    sum(CASE WHEN t % 4 > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, gop, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, 127 + kf.kcum + p.pcum AS val
      |  FROM p JOIN kf ON kf.container = p.container AND kf.gop = p.gop
      |    AND kf.j = p.j AND kf.c = p.c),
      |luma AS (SELECT container, t, sum(256 * val) AS luma_sum
      |  FROM val GROUP BY 1, 2),
      |d AS (SELECT container, t, luma_sum,
      |    abs(luma_sum - lag(luma_sum, 1, luma_sum)
      |      OVER (PARTITION BY container ORDER BY t)) AS delta
      |  FROM luma),
      |cuts AS (SELECT container, t, luma_sum, delta,
      |    (t = 0 OR delta >= 3000) AS cut
      |  FROM d)
      |SELECT container, CAST(t AS BIGINT) AS t, (t % 4 = 0) AS keyframe,
      |  CAST(luma_sum AS BIGINT) AS luma_sum,
      |  CAST(delta AS BIGINT) AS delta, cut,
      |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY container ORDER BY t) AS BIGINT) AS scene_id
      |FROM cuts ORDER BY container, t""".stripMargin

  /** m49: VP8 GOLDEN-REFERENCE DECODE — §16.3's long-term anchor
    * through real coded bytes: per-MB reference selection
    * (bool(prob_last) then bool(prob_gf)) with the golden buffer held
    * at the most recent keyframe. Fixture: the top MB row predicts
    * ZEROMV off LAST (residuals ACCUMULATE frame over frame), the
    * bottom row ZEROMV off GOLDEN (every frame re-anchors at the
    * KEYFRAME pixels + its own residual — drift-free, which is exactly
    * what golden referencing exists for; a static background under a
    * moving foreground). The oracle replays both regimes: cumulative
    * window sums on top, keyframe value + per-frame residual on the
    * bottom. Round-trip of the refGolden bit is required in-kernel.
    * Scale: the m40 envelope. */
  private[operators] object Vp8GoldenKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8g${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8g${k}_${t}_${j}_${c}") % 60,
              refGolden = j == 1))))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        f.coded.foreach(d => require(d.frame.mbs.map(_.refGolden) ==
          Vector(false, false, true, true),
          s"container $k frame $t: refGolden drift through the bitstream"))
        (k, t.toLong, t == 0, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m49(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8GoldenKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m49Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8g'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8g' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |-- top row (j=0): LAST chain, residuals accumulate; bottom row
      |-- (j=1): GOLDEN anchor, keyframe value + own residual only
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum,
      |    CASE WHEN t > 0 THEN r ELSE 0 END AS rown
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.j, r2.v,
      |    127 + k.kcum +
      |      CASE WHEN p.j = 0 THEN p.pcum ELSE p.rown END AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c
      |  JOIN r r2 ON r2.container = p.container AND r2.t = p.t
      |    AND r2.j = p.j AND r2.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** e53: STREAMING VP8 DECODE — the codec as a stateful stream
    * operator: the m44-shaped frame sequence (keyframe + ZEROMV
    * P-frames, hex payloads in the envelope's text field) rides the
    * driver-free file-source micro-batch mount, and the decoder's
    * reference state (LAST + GOLDEN planes, ~10 KB/key) crosses batch
    * boundaries through the state store
    * ([[graft.streaming.Vp8Machine]]). The chunk cut is on (ts, seq),
    * so every container's 6 frames straddle all 3 micro-batches — the
    * keyframe lands in batch 0 and the P-frame chain decodes against
    * planes recovered FROM THE STATE STORE in batches 1-2. Oracle: the
    * m44 closed form (keyframe column prefix + cumulative ZEROMV
    * residuals) under the e53 salt. This is the live-ingest shape: a
    * socket/RTMP source feeding coded video into a stateful decode
    * stage with exactly-once state semantics. */
  private[operators] object Vp8StreamFixtureKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8e${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          val mbs = mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8e${k}_${t}_${j}_${c}") % 60))
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs))
        }
      val hex = java.util.HexFormat.of()
      payloads.iterator.zipWithIndex.map { case (p, t) =>
        (k.toString, 0, t.toLong, 0.0, hex.formatHex(p), false, t.toLong)
      }
    }
  }

  private def e53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StatefulRunner, Vp8Machine}
    val fixture = KernelGroups.countKernel(viewContainers(s, d))(
        Vp8StreamFixtureKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e53@$d",
        ds => StatefulRunner.runStreaming(new Vp8Machine.StreamDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("container"),
        col("ts").as("t"),
        (split(col("text"), ",")(1) === "1").as("keyframe"),
        col("value").cast("long").as("luma_sum"),
        split(col("text"), ",")(0).cast("long").as("chroma_sum"))
      .orderBy(col("container"), col("t"))
  }

  private val e53Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8e'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8e' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m50: VP8 mb_no_coeff_skip DECODE (§9.11) — the static-background
    * bit every real stream leans on: P-frames enable skip in the
    * header and the two static MBs per frame code ONE bool instead of
    * 26 token trees, while their pixels ride ZEROMV motion
    * compensation unchanged. Fixture: the m44 chain where MB(0,0) and
    * MB(1,1) keep coding residuals (their values accumulate) and
    * MB(0,1)/MB(1,0) are skipped every P-frame (their values stay the
    * KEYFRAME's forever — drift-free static background). The oracle
    * replays both regimes plus the per-frame skip count; the kernel
    * requires the decoded skip flags and the §9.11 context-reset
    * semantics (Vp8Spec pins the bitstream-shrink and neighbor-context
    * effects). Scale: the m40 envelope. */
  private[operators] object Vp8SkipKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8k${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          // (0,0)/(1,1) code, (0,1)/(1,0) skip
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            if (j == c) vp8InterMb(hexbyte(s"vp8k${k}_${t}_${j}_${c}") % 60)
            else vp8InterMb(0, skip = true)), skipEnabled = true))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        f.coded.foreach(d => require(d.frame.skipEnabled &&
          d.frame.mbs.map(_.skip) == Vector(false, true, true, false),
          s"container $k frame $t: skip flags drift through the bitstream"))
        (k, t.toLong, t == 0, if (t == 0) 0L else 2L, y2Levels(f),
          lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m50(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8SkipKernel.rows)
      .toDF("container", "t", "keyframe", "n_skip", "levels_sum",
        "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m50Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- coded cells (j = c) draw residuals; skipped cells (j <> c)
      |-- carry zero forever
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8k'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      WHEN grid.j = grid.c THEN CAST(concat('0x', substr(
      |        md5('vp8k' || container || '_' || t || '_' || grid.j
      |          || '_' || grid.c), 1, 2)) AS BIGINT) % 60
      |      ELSE 0 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.v, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(CASE WHEN t = 0 THEN 0 ELSE 2 END AS BIGINT) AS n_skip,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m51: VP8 QUANTIZER-DELTA DECODE (§9.6) — the five per-plane
    * deltas as real header bits: every P-frame carries its own y2dc
    * delta (flag + 4-bit magnitude + sign), shifting the Y2-DC
    * dequant factor frame-by-frame while the shared y_ac base stays
    * 0. The closed form follows the §14.1 derivation exactly: factor
    * = 2·(4 + max(d, 0)) (the index clamps at 0), the WHT DC becomes
    * (factor·v + 3) >> 3, and the uniform residual
    * ((factor·v + 3) >> 3 + 4) >> 3 — all integer arithmetic the
    * oracle replays per frame. Vp8Spec pins all five delta slots and
    * the clamp edges. Scale: the m40 envelope. */
  private[operators] object Vp8QdeltaKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      // y2dc delta per frame: 6 on the keyframe, then (t % 11) - 5
      def delta(t: Int): Int = if (t == 0) 6 else (t % 11) - 5
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8q${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs,
        qDeltas = Vp8.QDeltas(y2dc = delta(0)))) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8q${k}_${t}_${j}_${c}") % 40)),
            qDeltas = Vp8.QDeltas(y2dc = delta(t))))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        require(f.coded.fold(_.frame.qDeltas, _.frame.qDeltas) ==
          Vp8.QDeltas(y2dc = delta(t)),
          s"container $k frame $t: qdelta drift through the header")
        (k, t.toLong, t == 0, delta(t).toLong, y2Levels(f), lumaSum(f),
          chromaSum(f))
      }
    }
  }

  private def m51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8QdeltaKernel.rows)
      .toDF("container", "t", "keyframe", "y2dc_delta", "levels_sum",
        "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m51Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t,
      |    CASE WHEN g.t = 0 THEN 6 ELSE (g.t % 11) - 5 END AS d
      |  FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, d, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8q'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8q' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 40 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |-- section 14.1/14.3 readout with the delta-shifted y2dc factor:
      |-- factor = 2*(4 + max(d,0)) at base qindex 0 (index clamps at 0),
      |-- WHT DC = (factor*v + 3) >> 3, residual = (DC + 4) >> 3
      |r AS (SELECT container, t, j, c, v,
      |    (((2 * (4 + greatest(d, 0))) * v + 3) // 8 + 4) // 8 AS r
      |  FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.v, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT v2.container, CAST(v2.t AS BIGINT) AS t, (v2.t = 0) AS keyframe,
      |  CAST(f.d AS BIGINT) AS y2dc_delta,
      |  CAST(sum(v2.v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * v2.val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val v2 JOIN frames f ON f.container = v2.container AND f.t = v2.t
      |GROUP BY v2.container, v2.t, f.d ORDER BY v2.container, v2.t""".stripMargin

  /** m52: VP8 TOKEN-PARTITION DECODE (§9.5) — the parallel-decode
    * layout real encoders emit: every frame in the chain carries TWO
    * token partitions (log2 count in the header, 3-byte size table
    * after the first partition, MB row r mod count assignment), so
    * each 32×32 frame's two MB rows decode from two independent bool
    * streams while the nonzero-context planes still thread across
    * them in raster order. Pixels are partition-count-invariant —
    * the oracle is the m44 closed form under the m52 salt, and the
    * kernel requires the decoded partition count; Vp8Spec pins all
    * four legal counts and the truncation guards. Scale: the m40
    * envelope (and at real frame sizes, partitions are precisely the
    * intra-frame parallelism a wide executor would use). */
  private[operators] object Vp8PartitionKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8t${k}_0_${j}_${c}") % 100))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs,
        tokenPartitions = 2)) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8t${k}_${t}_${j}_${c}") % 60)),
            tokenPartitions = 2))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        require(f.coded.fold(_.frame.tokenPartitions,
          _.frame.tokenPartitions) == 2,
          s"container $k frame $t: partition count drift")
        (k, t.toLong, t == 0, 2L, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m52(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8PartitionKernel.rows)
      .toDF("container", "t", "keyframe", "n_partitions", "levels_sum",
        "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m52Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8t'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8t' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.v, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(2 AS BIGINT) AS n_partitions,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m53: VP8 SPLITMV DECODE (§16.2/§17.4) — per-subblock motion
    * through real coded bytes, completing the mv_ref mode space: every
    * P-frame's MB(1,1) is a QUARTERS split whose four NEW4X4/ZERO4X4
    * sub-MVs gather the PREVIOUS frame's four macroblocks into one
    * collage (q0←MB(0,0), q1←MB(0,1), q2←MB(1,0), q3←its own
    * bottom-right quarter, which therefore stays the KEYFRAME's value
    * forever), while the other MBs run ZEROMV residual chains. The
    * oracle replays the whole motion graph: cumulative sums for the
    * uniform MBs and the lagged 64-pixel-per-quarter collage
    * arithmetic with its fixed-point q3. Sub-MV coding (own-DC
    * type-3 tokens, no Y2, LEFT/ABOVE contexts, chroma 4-MV average)
    * is pinned by Vp8Spec. Scale: the m40 envelope. */
  private[operators] object Vp8SplitKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8x${k}_0_${j}_${c}") % 100))
      val collage = Vp8.InterMb(inter = true, Vp8.SplitMv,
        Vp8.Mv(0, 0), 0, 0, new Array[Int](16),
        zeroBlocks(16), zeroBlocks(4), zeroBlocks(4),
        splitType = 2,
        subModes = Array(Vp8.SubNew, Vp8.SubNew, Vp8.SubNew,
          Vp8.SubZero),
        subNewMvs = Array(Vp8.Mv(-128, -128), Vp8.Mv(-128, 0),
          Vp8.Mv(0, -128), Vp8.Mv(0, 0)))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs)) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            if (j == 1 && c == 1) collage
            else vp8InterMb(hexbyte(s"vp8x${k}_${t}_${j}_${c}") % 60))))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        f.coded.foreach(d => require(d.frame.mbs(3).mvMode == Vp8.SplitMv &&
          d.frame.mbs(3).splitType == 2,
          s"container $k frame $t: split mode drift"))
        (k, t.toLong, t == 0, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8SplitKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m53Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8x'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8x' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |-- the three ZEROMV MBs accumulate; the collage draws no residual
      |-- (its v only feeds levels_sum as 0 via the j=1,c=1 draw being
      |-- unused — the kernel encodes zero levels there)
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 AND NOT (j = 1 AND c = 1) THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |uni AS (SELECT p.container, p.t, p.j, p.c,
      |    127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c),
      |-- per-frame uniform-MB values with their previous-frame lags
      |lagd AS (SELECT container, t, j, c, val,
      |    lag(val, 1, CAST(0 AS BIGINT)) OVER (PARTITION BY container,
      |      j, c ORDER BY t) AS pval
      |  FROM uni),
      |-- collage luma at t>0: 64 px from each of prev MB(0,0), MB(0,1),
      |-- MB(1,0) plus the keyframe-pinned q3
      |agg AS (SELECT l.container, l.t,
      |    sum(CASE WHEN NOT (l.j = 1 AND l.c = 1)
      |      THEN 256 * l.val ELSE 0 END) AS uni_luma,
      |    sum(CASE WHEN NOT (l.j = 1 AND l.c = 1)
      |      THEN 64 * l.pval ELSE 0 END) AS collage_prev
      |  FROM lagd l GROUP BY 1, 2),
      |k11 AS (SELECT container,
      |    max(CASE WHEN j = 1 AND c = 1 THEN kcum END) AS kc
      |  FROM k GROUP BY container),
      |lv AS (SELECT container, t,
      |    sum(CASE WHEN t = 0 OR NOT (j = 1 AND c = 1) THEN v
      |      ELSE 0 END) AS levels_sum
      |  FROM mb GROUP BY 1, 2)
      |SELECT a.container, CAST(a.t AS BIGINT) AS t, (a.t = 0) AS keyframe,
      |  CAST(lv.levels_sum AS BIGINT) AS levels_sum,
      |  CAST(CASE WHEN a.t = 0 THEN a.uni_luma + 256 * (127 + k11.kc)
      |    ELSE a.uni_luma + a.collage_prev + 64 * (127 + k11.kc)
      |    END AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM agg a
      |JOIN k11 ON k11.container = a.container
      |JOIN lv ON lv.container = a.container AND lv.t = a.t
      |ORDER BY a.container, a.t""".stripMargin

  /** m54: VP8 SEGMENTATION DECODE (§9.3/§10) — per-MB quantizer
    * routing through real coded bytes: every frame carries a
    * 2-segment map (checkerboard (j+c)%2, coded by the segment tree
    * leading each MB's mode info) with ABSOLUTE quantizer features
    * {0, 20}, so same-valued residual draws dequant to DIFFERENT
    * reconstructions per segment — seg 0 at y2dc = 8, seg 1 at
    * y2dc = 48 — and the oracle replays the §14.1 readout per segment
    * (((y2f·v + 3) >> 3) + 4) >> 3 through the keyframe column prefix
    * and the ZEROMV chain. Map/feature round-trip, delta mode and the
    * skip composition are pinned by Vp8Spec. Scale: the m40
    * envelope. */
  private[operators] object Vp8SegKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Boolean, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val seg = Vp8.Segmentation(absMode = true,
        Array(0, 20, 0, 0), Array(100, 128, 160))
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8s2${k}_0_${j}_${c}") % 40,
          segment = (j + c) % 2))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs,
        segmentation = Some(seg))) +:
        (1 until n).map { t =>
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8s2${k}_${t}_${j}_${c}") % 12,
              segment = (j + c) % 2)), segmentation = Some(seg)))
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        require(f.coded.fold(_.frame.mbs.map(_.segment),
          _.frame.mbs.map(_.segment)) == Vector(0, 1, 1, 0),
          s"container $k frame $t: segment map drift through the bitstream")
        (k, t.toLong, t == 0, y2Levels(f), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8SegKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m54Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN (grid.j + grid.c) % 2 = 1 THEN 48 ELSE 8 END AS y2f,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8s2'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 40
      |      ELSE CAST(concat('0x', substr(md5('vp8s2' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 12 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |-- per-segment sect 14.1 readout: WHT DC = (y2f*v+3)>>3, then
      |-- the uniform residual (DC+4)>>3
      |r AS (SELECT container, t, j, c, v,
      |    ((y2f * v + 3) // 8 + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, p.v, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(v) AS BIGINT) AS levels_sum,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** m55: VP8 NORMAL LOOP FILTER DECODE (§15.3) — the wide-tap
    * in-loop smoother real encoders default to, through real coded
    * bits (filter_type 0 + level 18 in the header): a single-MB-column
    * 16×32 frame leaves ONE active edge (the horizontal MB edge at
    * y = 16, uniform step d = (v1+4)>>3 ≤ 2), where the wide path's
    * f = clamp((p1−q1) + 3(q0−p0)) = 2d drives the 27/18/9-tap ladder
    * u27 = (54d+63)>>7, u18 = (36d+63)>>7, u9 = 0 — rows 14/15/16/17
    * move by ±u18/±u27 and the total luma sum is CONSERVED (the taps
    * are antisymmetric), so the oracle pins the per-row sums r14..r17
    * alongside the invariant total. The hev narrow path, the 9-tap
    * and chroma filtering are pinned by Vp8Spec. Scale: the m40
    * envelope. */
  private[operators] object Vp8NormalFilterKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      (0 until n).iterator.map { t =>
        val v0 = 1 + hexbyte(s"vp8n${k}_${t}_0") % 100
        val v1 = hexbyte(s"vp8n${k}_${t}_1") % 13 // d <= 2: u9 = 0
        val dec = Vp8.decode(Vp8.encode(Vp8.KeyFrame(16, 32, 0,
          Vector(vp8KeyMb(v0), vp8KeyMb(v1)), filterLevel = 18,
          normalFilter = true)))
        require(dec.frame.normalFilter && dec.frame.filterLevel == 18,
          s"container $k frame $t: filter header drift")
        def rowSum(r: Int): Long =
          (0 until 16).map(x => dec.y(r * 16 + x).toLong).sum
        (k, t.toLong, rowSum(14), rowSum(15), rowSum(16), rowSum(17),
          dec.y.iterator.map(_.toLong).sum,
          dec.u.iterator.map(_.toLong).sum +
            dec.v.iterator.map(_.toLong).sum)
      }
    }
  }

  private def m55(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8NormalFilterKernel.rows)
      .toDF("container", "t", "r14", "r15", "r16", "r17", "luma_sum",
        "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m55Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |v AS (SELECT container, t,
      |    1 + CAST(concat('0x', substr(md5('vp8n' || container || '_' || t
      |      || '_0'), 1, 2)) AS BIGINT) % 100 AS v0,
      |    CAST(concat('0x', substr(md5('vp8n' || container || '_' || t
      |      || '_1'), 1, 2)) AS BIGINT) % 13 AS v1
      |  FROM frames),
      |-- u fills MB 0; w = u + d fills MB 1; the wide path at y=16:
      |-- f = 2d, u27 = (54d+63)>>7, u18 = (36d+63)>>7, u9 = 0
      |f AS (SELECT container, t,
      |    127 + (v0 + 4) // 8 AS u, (v1 + 4) // 8 AS d,
      |    (54 * ((v1 + 4) // 8) + 63) // 128 AS u27,
      |    (36 * ((v1 + 4) // 8) + 63) // 128 AS u18
      |  FROM v)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(16 * (u + u18) AS BIGINT) AS r14,
      |  CAST(16 * (u + u27) AS BIGINT) AS r15,
      |  CAST(16 * (u + d - u27) AS BIGINT) AS r16,
      |  CAST(16 * (u + d - u18) AS BIGINT) AS r17,
      |  -- antisymmetric taps conserve the total: 256*(2u + d)
      |  CAST(256 * (2 * u + d) AS BIGINT) AS luma_sum,
      |  CAST(32768 AS BIGINT) AS chroma_sum
      |FROM f ORDER BY container, t""".stripMargin

  /** e54: STREAMING VP8 DECODE WITH ENTROPY STATE — e53's live-ingest
    * shape where the frames ALSO carry §9.7 coefficient-probability
    * updates, so the decoder's cross-batch state must include the
    * entropy tables, not just the reference planes: the keyframe
    * (batch 0) persists updates (refresh_entropy_probs = 1), frame 1
    * carries revert-after-frame updates (refresh = 0), frame 3
    * persists a new table — and frames 2/4/5, arriving in LATER
    * micro-batches, decode correctly only if
    * [[graft.streaming.Vp8Machine.DecState]]'s flattened
    * [[graft.functions.Vp8.Ctx]] round-tripped through the state
    * store (any loss desyncs the bool decoder and the sums explode).
    * Oracle: the m44 closed form under the e54 salt — the updates
    * change the BITS, not the values. The chunk cut is on (ts, seq):
    * every container's frames straddle all 3 micro-batches. */
  private[operators] object Vp8EntropyStreamKernel extends Serializable {
    def rows(k: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
      val keyMbs = mbGrid((j, c) =>
        vp8KeyMb(1 + hexbyte(s"vp8y${k}_0_${j}_${c}") % 100))
      val kfUpd = Vector(
        Vp8.CoeffUpdate(1, 0, 0, 0, 1 + hexbyte(s"vp8yp${k}_0") % 254),
        Vp8.CoeffUpdate(1, 0, 1, 0, 1 + hexbyte(s"vp8yp${k}_1") % 254))
      val payloads = Vp8.encode(Vp8.KeyFrame(32, 32, 0, keyMbs,
        coeffUpdates = kfUpd), ctx = cxE) +:
        (1 until n).map { t =>
          val mbs = mbGrid((j, c) =>
            vp8InterMb(hexbyte(s"vp8y${k}_${t}_${j}_${c}") % 60))
          val (upd, refresh) = t match {
            case 1 => (Vector(Vp8.CoeffUpdate(1, 0, 0, 0,
              1 + hexbyte(s"vp8yq${k}_$t") % 254)), false)
            case 3 => (Vector(Vp8.CoeffUpdate(1, 0, 0, 0,
              1 + hexbyte(s"vp8yq${k}_$t") % 254)), true)
            case _ => (Vector.empty[Vp8.CoeffUpdate], true)
          }
          Vp8.encodeInter(32, 32, Vp8.InterFrame(0, mbs,
            refreshEntropy = refresh, coeffUpdates = upd), ctx = cxE)
        }
      val hex = java.util.HexFormat.of()
      payloads.iterator.zipWithIndex.map { case (p, t) =>
        (k.toString, 0, t.toLong, 0.0, hex.formatHex(p), false, t.toLong)
      }
    }
  }

  private def e54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StatefulRunner, Vp8Machine}
    val fixture = KernelGroups.countKernel(viewContainers(s, d))(
        Vp8EntropyStreamKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e54@$d",
        ds => StatefulRunner.runStreaming(new Vp8Machine.StreamDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("container"),
        col("ts").as("t"),
        (split(col("text"), ",")(1) === "1").as("keyframe"),
        col("value").cast("long").as("luma_sum"),
        split(col("text"), ",")(0).cast("long").as("chroma_sum"))
      .orderBy(col("container"), col("t"))
  }

  private val e54Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, grid.j, grid.c,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8y'
      |        || container || '_0_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8y' || container || '_'
      |        || t || '_' || grid.j || '_' || grid.c), 1, 2))
      |        AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT a.j, b.c FROM
      |    (SELECT unnest(range(2)) AS j) a,
      |    (SELECT unnest(range(2)) AS b_c) b(c)) grid),
      |r AS (SELECT container, t, j, c, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j, c,
      |    sum(r) OVER (PARTITION BY container, c ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, t, j, c,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j, c ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.t, 127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j
      |    AND k.c = p.c)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(sum(256 * val) AS BIGINT) AS luma_sum,
      |  CAST(65536 AS BIGINT) AS chroma_sum
      |FROM val GROUP BY container, t ORDER BY container, t""".stripMargin

  /** e56: STREAMING MP3 BIT-RESERVOIR DECODE — the audio twin of
    * e53–e55: Layer III frames arrive one micro-batch at a time and
    * §2.4.2.7's main_data_begin makes each frame's granules start up
    * to 511 bytes back inside EARLIER frames' slot space, so the
    * decoder's cross-frame state — the trailing ≤ 511 bytes of slot
    * space, bounded by the spec's own 9-bit field
    * ([[graft.sources.Mp3.demuxReservoirStep]] /
    * [[graft.streaming.Mp3Machine]]) — must round-trip through the
    * state store across real micro-batch boundaries: a frame in batch
    * 2 reads bytes that physically arrived in batch 0 (any loss
    * desyncs part2_3_length loudly). Fixture: exactly p22's
    * chunk-salted 48 kbps frames (`DspQueries.Mp3Fixtures`), so p22's
    * layout oracle — the 511-clamp recurrence via its running-max
    * identity — pins the streaming decode too. Scale: state per key
    * is ≤ 511 bytes by construction; scale-out is keys × executors. */
  private[operators] object Mp3ReservoirStreamKernel extends Serializable {
    def rows(cid: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      import graft.sources.Mp3
      val n = math.min(10, count)
      if (n < 1) return Iterator.empty
      val frames = (0 until n)
        .map(i => DspQueries.Mp3Fixtures.reservoirFrame(i + cid.toInt * 7))
      val bytes = Mp3.muxReservoir(frames)
      val hex = java.util.HexFormat.of()
      val out = Vector.newBuilder[(String, Int, Long, Double, String,
        Boolean, Long)]
      var pos = 0
      (0 until n).foreach { i =>
        val fl = frames(i).frameLen
        out += ((cid.toString, 0, i.toLong, 0.0,
          hex.formatHex(java.util.Arrays.copyOfRange(bytes, pos, pos + fl)),
          false, i.toLong))
        pos += fl
      }
      require(pos == bytes.length, s"chunk $cid: frame split drift")
      out.result().iterator
    }
  }

  /** e57: STREAMING MP3 DECODE-TO-PCM — p31's streaming twin and
    * e56's completion: the reservoir window (≤ 511 bytes) now rides
    * NEXT TO the hybrid filterbank's cross-frame state — the 32×18
    * overlap store and the polyphase V register
    * ([[graft.sources.Mp3Pcm.Hybrid.flat]], 1600 Longs ≈ 12.5 KB,
    * CONSTANT per key) — through a real micro-batch boundary: a
    * frame's first 18 output slots ring with the PREVIOUS frame's
    * IMDCT tails and the V register carries 16 steps of history, so
    * state loss desyncs every later PCM sum (and |Σpcm| > 2^53, so
    * the exact values ride the text channel). Fixture: exactly p31's
    * five-regime frames through [[graft.sources.Mp3.muxReservoir]]
    * (main_data_begin hits the 511 clamp); oracle: p31's full SQL
    * lattice, down to the same per-frame PCM sums and first samples.
    * Scale: state per key is spec-bounded; scale-out is keys ×
    * executors, identical to e53–e56. */
  /** m68: H.264 DECODE TO PIXELS ([[graft.sources.H264Recon]],
    * §8.3/§8.5) — VP8-depth parity for H.264: the CAVLC slice
    * parsers' coefficients (m62/m64) now reach reconstructed planes
    * through the nine Intra_4x4 predictors, the I_16x16 predictor
    * family, the chroma per-4x4 DC selection, §8.5 scaling + the
    * integer 4×4 inverse transform, both Hadamard DC paths and the
    * macroblock QP chain. Frames alternate an Intra_4x4 slice
    * (DC top block row, Vertical below — §8.3.1's availability
    * fallbacks at the frame edge) and an I_16x16 slice (DC/Vertical
    * MBs), with DC-only residuals at a per-frame mb_qp_delta, so the
    * ENGINE runs the fully general machinery while the oracle replays
    * the closed-form column cascade (the lemma H264Spec pins
    * pixel-by-pixel against decodeI4Frame/decodeI16Frame). */
  private[operators] object H264ReconKernel extends Serializable {
    import graft.sources.{H264, H264Recon}
    def rows(cid: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 1) return Iterator.empty
      val sps = H264.parseSps(H264.writeSps(32, 32))
      val pps = H264.parsePps(H264.writePps())
      val c = cid.toInt
      (0 until n).iterator.map { t =>
        val qpDelta = (t + c) % 5 - 2
        val qpd = Vector(qpDelta, 0, 0, 0)
        val chromaModes = Vector(0, 0, 2, 2)
        def c2Of(mb: Int, comp: Int): Int = (t * 3 + mb * 5 + comp + c) % 2
        val cdc = Vector.tabulate(4)(mb => Vector.tabulate(2)(comp =>
          Array(c2Of(mb, comp), 0, 0, 0)))
        val cac = Vector.fill(4)(Vector.fill(2)(
          Vector.fill(4)(Array.empty[Int])))
        val planes =
          if (t % 2 == 0) {
            val modes = Vector.tabulate(4) { mb =>
              val mr = mb / 2
              Array.tabulate(16) { idx =>
                val (_, by) = H264.blk4x4Pos(idx)
                if (mr == 0 && by == 0) 2 else 0
              }
            }
            val luma = Vector.tabulate(4)(mb => Vector.tabulate(16) { blk =>
              val a = new Array[Int](16)
              a(0) = (t * 5 + mb * 7 + blk * 3 + c) % 2
              a
            })
            val nal = H264.writeIntraCodedSlice(0, sps, pps, modes,
              chromaModes, Vector.fill(4)(0x1F), qpd, luma, cdc, cac)
            val (info, mbs) = H264.parseIntraCodedSlice(nal, sps, pps)
            H264Recon.decodeI4Frame(info, mbs, sps, pps)
          } else {
            val preds = Vector(2, 2, 0, 0)
            val dc16 = Vector.tabulate(4) { mb =>
              val a = new Array[Int](16)
              a(0) = (t * 7 + mb * 11 + c) % 2
              a
            }
            val nal = H264.writeI16Slice(0, sps, pps, preds,
              chromaModes, Vector.fill(4)(1), qpd, dc16,
              Vector.fill(4)(Vector.empty), cdc, cac)
            val (info, mbs) = H264.parseI16Slice(nal, sps, pps)
            H264Recon.decodeI16Frame(info, mbs, sps, pps)
          }
        val lumaSum = planes.y.iterator.flatMap(_.iterator)
          .map(_.toLong).sum
        val chromaSum = planes.u.iterator.flatMap(_.iterator)
          .map(_.toLong).sum +
          planes.v.iterator.flatMap(_.iterator).map(_.toLong).sum
        (cid, t.toLong, (t % 2).toLong, (26 + qpDelta).toLong,
          lumaSum, chromaSum, planes.y(0)(0).toLong)
      }
    }
  }

  private def m68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(H264ReconKernel.rows)
      .toDF("container", "t", "kind", "qp", "luma_sum", "chroma_sum",
        "y00")
      .orderBy(col("container"), col("t"))
  }

  private val m68Sql =
    s"""${viewCnt(6, pairs = false)}
      |frames AS (SELECT container, g.t,
      |    26 + (g.t + container) % 5 - 2 AS qp
      |  FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |-- LS(qP%6, 0, 0) over the §8.5 value rows; qP ∈ [24,28] → m ∈ [0,4]
      |q AS (SELECT *, list_extract([10, 11, 13, 14, 16],
      |    CAST(qp % 6 + 1 AS INT)) AS ls FROM frames),
      |-- Intra_4x4 frames (even t): DC-only per-4x4 residual
      |-- u = (c·LS·16 + 32) // 64 cascading DC-then-Vertical
      |i4b AS (SELECT q.container, q.t, q.qp, q.ls, gx.gbx, gy.gby,
      |    (q.t * 5 + ((gy.gby // 4) * 2 + gx.gbx // 4) * 7
      |      + (((gy.gby % 4) // 2) * 2 + (gx.gbx % 4) // 2) * 4 * 3
      |      + ((gy.gby % 2) * 2 + gx.gbx % 2) * 3
      |      + q.container) % 2 AS cv
      |  FROM q,
      |    (SELECT unnest(range(8)) AS gbx) gx,
      |    (SELECT unnest(range(8)) AS gby) gy
      |  WHERE q.t % 2 = 0),
      |i4u AS (SELECT *, (cv * ls * 16 + 32) // 64 AS u FROM i4b),
      |-- val(gbx, gby) = 128 + Σ_{b≤gbx} u(b, 0) + Σ_{1≤r≤gby} u(gbx, r)
      |i4r0 AS (SELECT container, t, gbx,
      |    sum(u) OVER (PARTITION BY container, t ORDER BY gbx) AS cum0
      |  FROM i4u WHERE gby = 0),
      |i4v AS (SELECT cc.container, cc.t, cc.gbx, cc.gby,
      |    128 + r0.cum0 + cc.cumc AS val
      |  FROM (SELECT container, t, gbx, gby,
      |      sum(CASE WHEN gby > 0 THEN u ELSE 0 END)
      |        OVER (PARTITION BY container, t, gbx ORDER BY gby) AS cumc
      |    FROM i4u) cc
      |  JOIN i4r0 r0 ON r0.container = cc.container AND r0.t = cc.t
      |    AND r0.gbx = cc.gbx),
      |i4sum AS (SELECT container, t, 16 * sum(val) AS luma_sum,
      |    16 * 8 * 8 AS npix,
      |    max(CASE WHEN gbx = 0 AND gby = 0 THEN val END) AS y00
      |  FROM i4v GROUP BY 1, 2),
      |-- I_16x16 frames (odd t): uniform r16 = (cL·LS·4 + 32) // 64
      |i16m AS (SELECT q.container, q.t, q.qp, q.ls, mb.mb,
      |    ((q.t * 7 + mb.mb * 11 + q.container) % 2) * q.ls * 4 AS dcv
      |  FROM q, (SELECT unnest(range(4)) AS mb) mb
      |  WHERE q.t % 2 = 1),
      |i16r AS (SELECT container, t, mb, (dcv + 32) // 64 AS r FROM i16m),
      |i16v AS (SELECT a.container, a.t, a.mb,
      |    128 + a.r
      |    + coalesce((SELECT b.r FROM i16r b WHERE b.container = a.container
      |        AND b.t = a.t AND b.mb = CASE a.mb WHEN 1 THEN 0
      |          WHEN 2 THEN 0 WHEN 3 THEN 1 END), 0)
      |    + coalesce((SELECT c2.r FROM i16r c2 WHERE c2.container = a.container
      |        AND c2.t = a.t AND c2.mb = 0 AND a.mb = 3), 0) AS val
      |  FROM i16r a),
      |i16sum AS (SELECT container, t, 256 * sum(val) AS luma_sum,
      |    max(CASE WHEN mb = 0 THEN val END) AS y00
      |  FROM i16v GROUP BY 1, 2),
      |-- chroma (both kinds): per-MB uniform uc over the DC/V cascade
      |ch AS (SELECT q.container, q.t, mb.mb, comp.comp,
      |    ((((q.t * 3 + mb.mb * 5 + comp.comp + q.container) % 2)
      |      * q.ls * 16) // 2 + 32) // 64 AS uc
      |  FROM q, (SELECT unnest(range(4)) AS mb) mb,
      |    (SELECT unnest(range(2)) AS comp) comp),
      |chv AS (SELECT a.container, a.t, a.mb, a.comp,
      |    128 + a.uc
      |    + coalesce((SELECT b.uc FROM ch b WHERE b.container = a.container
      |        AND b.t = a.t AND b.comp = a.comp
      |        AND b.mb = CASE a.mb WHEN 1 THEN 0 WHEN 2 THEN 0
      |          WHEN 3 THEN 1 END), 0)
      |    + coalesce((SELECT c2.uc FROM ch c2 WHERE c2.container = a.container
      |        AND c2.t = a.t AND c2.comp = a.comp AND c2.mb = 0
      |        AND a.mb = 3), 0) AS cval
      |  FROM ch a),
      |chsum AS (SELECT container, t, 64 * sum(cval) AS chroma_sum
      |  FROM chv GROUP BY 1, 2)
      |SELECT f.container, CAST(f.t AS BIGINT) AS t,
      |  CAST(f.t % 2 AS BIGINT) AS kind,
      |  CAST(f.qp AS BIGINT) AS qp,
      |  CAST(coalesce(i4.luma_sum, i16.luma_sum) AS BIGINT) AS luma_sum,
      |  CAST(cs.chroma_sum AS BIGINT) AS chroma_sum,
      |  CAST(coalesce(i4.y00, i16.y00) AS BIGINT) AS y00
      |FROM frames f
      |LEFT JOIN i4sum i4 ON i4.container = f.container AND i4.t = f.t
      |LEFT JOIN i16sum i16 ON i16.container = f.container
      |  AND i16.t = f.t
      |JOIN chsum cs ON cs.container = f.container AND cs.t = f.t
      |ORDER BY f.container, f.t""".stripMargin

  /** m69: H.264 CABAC I-SLICE PARSE ([[graft.sources.Cabac]], §9.3)
    * — the second entropy coder behind the same seam class: streams
    * are written and read through the REAL arithmetic engine
    * (context adaptation, renormalization, bypass, terminate), with
    * Intra_4x4 mode bins (ctx 68/69 under the §8.3.1.1 prediction
    * recursion), intra_chroma_pred_mode TU bins (ctx 64+inc/67),
    * CBP-0 bins (ctx 73+inc/77+inc), the per-MB end_of_slice
    * terminate, and I_PCM's flush → align → raw planes → engine
    * re-init cycle with PERSISTENT context states. Every emitted
    * number passes through the encode → decode round trip, so any
    * engine desync (a single mis-adapted context) breaks the oracle,
    * which replays the fixture's draws. */
  private[operators] object CabacKernel extends Serializable {
    import graft.sources.H264
    def rows(cid: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(5, count)
      if (n < 1) return Iterator.empty
      val sps = H264.parseSps(H264.writeSps(48, 32))
      val pps = H264.parsePps(H264.writePps(cabac = true))
      val c = cid.toInt
      (0 until n).iterator.map { t =>
        val mbs: Vector[H264.CabacMb] = Vector.tabulate(6) { i =>
          if ((t + i + c) % 4 == 3)
            H264.CabacPcm(
              Array.tabulate(256)(k =>
                ((t * 31 + i * 13 + k * 7 + c) % 251).toByte),
              Array.tabulate(64)(k =>
                ((t * 17 + i * 7 + k * 3 + c) % 251).toByte),
              Array.tabulate(64)(k =>
                ((t * 11 + i * 5 + k * 9 + c) % 251).toByte))
          else
            H264.CabacI4(
              Array.tabulate(16)(idx =>
                (t * 3 + i * 5 + idx * 7 + c) % 9),
              (t + i * 3 + c) % 4)
        }
        val nal = H264.writeCabacIntraSlice(t, sps, pps, mbs)
        val (info, got) = H264.parseCabacIntraSlice(nal, sps, pps)
        require(info.frameNum == t, "m69: frame_num drift")
        var nPcm = 0L; var modeSum = 0L; var chromaSum = 0L
        var pcmY = 0L; var pcmC = 0L
        got.foreach {
          case H264.CabacI4(modes, cm) =>
            modeSum += modes.map(_.toLong).sum
            chromaSum += cm
          case H264.CabacPcm(y, u, v) =>
            nPcm += 1
            pcmY += y.iterator.map(_ & 0xffL).sum
            pcmC += u.iterator.map(_ & 0xffL).sum +
              v.iterator.map(_ & 0xffL).sum
          case _: H264.CabacCoded => throw new IllegalStateException(
            "m69: the intra-slice parser returned a CabacCoded MB")
        }
        (cid, t.toLong, nPcm, modeSum, chromaSum, pcmY, pcmC)
      }
    }
  }

  private def m69(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(CabacKernel.rows)
      .toDF("container", "t", "n_pcm", "mode_sum", "chroma_sum",
        "pcm_y_sum", "pcm_c_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m69Sql =
    s"""${viewCnt(5, pairs = false)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, i.i,
      |    (t + i.i + container) % 4 = 3 AS is_pcm
      |  FROM frames, (SELECT unnest(range(6)) AS i) i),
      |i4 AS (SELECT m.container, m.t,
      |    sum((m.t * 3 + m.i * 5 + x.idx * 7 + m.container) % 9)
      |      AS mode_sum
      |  FROM mb m, (SELECT unnest(range(16)) AS idx) x
      |  WHERE NOT m.is_pcm GROUP BY 1, 2),
      |py AS (SELECT m.container, m.t,
      |    sum((m.t * 31 + m.i * 13 + k.k * 7 + m.container) % 251)
      |      AS pcm_y
      |  FROM mb m, (SELECT unnest(range(256)) AS k) k
      |  WHERE m.is_pcm GROUP BY 1, 2),
      |pc AS (SELECT m.container, m.t,
      |    sum((m.t * 17 + m.i * 7 + k.k * 3 + m.container) % 251)
      |    + sum((m.t * 11 + m.i * 5 + k.k * 9 + m.container) % 251)
      |      AS pcm_c
      |  FROM mb m, (SELECT unnest(range(64)) AS k) k
      |  WHERE m.is_pcm GROUP BY 1, 2),
      |chf AS (SELECT c2.container, c2.t,
      |    sum(CASE WHEN NOT c2.is_pcm
      |      THEN (c2.t + c2.i * 3 + c2.container) % 4 ELSE 0 END)
      |      AS chroma_sum,
      |    sum(CASE WHEN c2.is_pcm THEN 1 ELSE 0 END) AS n_pcm
      |  FROM mb c2 GROUP BY 1, 2)
      |SELECT f.container, CAST(f.t AS BIGINT) AS t,
      |  CAST(chf.n_pcm AS BIGINT) AS n_pcm,
      |  CAST(coalesce(i4.mode_sum, 0) AS BIGINT) AS mode_sum,
      |  CAST(chf.chroma_sum AS BIGINT) AS chroma_sum,
      |  CAST(coalesce(py.pcm_y, 0) AS BIGINT) AS pcm_y_sum,
      |  CAST(coalesce(pc.pcm_c, 0) AS BIGINT) AS pcm_c_sum
      |FROM frames f
      |JOIN chf ON chf.container = f.container AND chf.t = f.t
      |LEFT JOIN i4 ON i4.container = f.container AND i4.t = f.t
      |LEFT JOIN py ON py.container = f.container AND py.t = f.t
      |LEFT JOIN pc ON pc.container = f.container AND pc.t = f.t
      |ORDER BY f.container, f.t""".stripMargin

  /** m70: MPEG-4 PART 2 ELEMENTARY-STREAM INDEX
    * ([[graft.sources.Mpeg4P2]], ISO/IEC 14496-2 §6.2) — the
    * structural layer for the last video codec the reference names
    * without one (its basic A/V test pairs `mpeg4` with AAC,
    * tests/media/test_containers.py:20): per container a
    * VOS→VO→VOL→VOPs walk exercising the extended aspect ratio, the
    * vol_control branch, fixed_vop_rate, the DERIVED time-increment
    * width, I/P VOPs with modulo_time_base runs and fcodes, and the
    * §5.2.3 stuffing duals — the oracle replays every field AND the
    * byte offsets from the closed-form header bit budgets
    * (header bytes = bits // 8 + 1, since next_start_code() always
    * stuffs at least one bit). */
  private[operators] object Mpeg4Kernel extends Serializable {
    import graft.sources.Mpeg4P2
    def rows(cid: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(8, count)
      if (n < 1) return Iterator.empty
      val c = cid.toInt
      val res = 25 + (c * 7) % 100
      val vol = Mpeg4P2.Vol(
        profileLevel = (c * 3 + 1) % 256,
        videoObjectId = c % 32,
        volId = 0x20 + c % 16,
        randomAccessible = c % 2 == 0,
        typeIndication = 1 + c % 4,
        aspectRatio = if (c % 5 == 4) 15 else 1 + c % 4,
        aspectExt = if (c % 5 == 4) Some((c % 7 + 1, c % 9 + 1)) else None,
        chromaLowDelay = if (c % 3 == 0) Some((1, c % 2 == 1)) else None,
        timeIncrementResolution = res,
        fixedVopRate = if (c % 4 == 1) Some(1 + c % 24) else None,
        width = 176 + 16 * (c % 8), height = 144 + 16 * (c % 4),
        quantType = c % 2 == 1)
      val vops = (0 until n).map { t =>
        val ct = if (t % 3 == 0) 0 else 1
        Mpeg4P2.Vop(ct, t % 3, (t * 7 + c) % res, t % 8,
          1 + (t * 3 + c) % 31, if (ct == 1) 1 + (t + c) % 7 else 0,
          Array.tabulate(10 + t % 6)(k =>
            (32 + (t * 5 + k * 11 + c) % 200).toByte))
      }
      val bytes = Mpeg4P2.mux(vol, vops)
      val (gotVol, gotVops) = Mpeg4P2.demux(bytes)
      require(gotVol == vol, s"container $cid: VOL round-trip drift")
      require(gotVops.size == n, s"container $cid: VOP count drift")
      gotVops.iterator.zipWithIndex.map { case ((off, v), t) =>
        (cid, t.toLong, off, v.codingType.toLong,
          v.moduloBase.toLong, v.timeIncrement.toLong,
          v.quant.toLong, v.fcodeForward.toLong,
          gotVol.width.toLong, gotVol.height.toLong,
          gotVol.incBits.toLong,
          v.payload.iterator.map(_ & 0xffL).sum)
      }
    }
  }

  private def m70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Mpeg4Kernel.rows)
      .toDF("container", "t", "offset", "coding_type", "modulo",
        "time_inc", "quant", "fcode", "width", "height", "inc_bits",
        "payload_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m70Sql =
    s"""${viewCnt(8, pairs = false)}
      |vol AS (SELECT container, n,
      |    25 + (container * 7) % 100 AS res,
      |    container % 5 = 4 AS ext,
      |    container % 3 = 0 AS vcp,
      |    container % 4 = 1 AS fixed
      |  FROM cnt),
      |bits AS (SELECT *,
      |    -- incBits = ceil(log2(res)), minimum 1
      |    greatest(1, CAST(ceil(log2(res)) AS BIGINT)) AS inc_bits
      |  FROM vol),
      |hdr AS (SELECT *,
      |    -- VOL header bits before stuffing [§6.2.3]
      |    1 + 8 + 1 + 4 + (CASE WHEN ext THEN 16 ELSE 0 END)
      |    + (CASE WHEN vcp THEN 5 ELSE 1 END)
      |    + 2 + 1 + 16 + 1
      |    + (CASE WHEN fixed THEN 1 + inc_bits ELSE 1 END)
      |    + 1 + 13 + 1 + 13 + 1 + 9 AS vol_bits
      |  FROM bits),
      |-- stream prefix: VOS(4)+profile(1) + VO sc(4)+hdr(1)
      |--   + video_object sc(4) + VOL sc(4) + VOL header bytes
      |pre AS (SELECT *, 18 + vol_bits // 8 + 1 AS vol_end FROM hdr),
      |vops AS (SELECT p.container, p.res, p.inc_bits, p.vol_end, g.t,
      |    CASE WHEN g.t % 3 = 0 THEN 0 ELSE 1 END AS ct,
      |    g.t % 3 AS modulo,
      |    (g.t * 7 + p.container) % p.res AS time_inc,
      |    1 + (g.t * 3 + p.container) % 31 AS quant,
      |    CASE WHEN g.t % 3 = 0 THEN 0
      |      ELSE 1 + (g.t + p.container) % 7 END AS fcode,
      |    10 + g.t % 6 AS payn
      |  FROM pre p,
      |  unnest(generate_series(0, CAST(p.n - 1 AS BIGINT))) AS g(t)),
      |sized AS (SELECT *,
      |    -- VOP header bits: type 2 + modulo (mb+1) + marker 1 +
      |    -- inc + marker 1 + coded 1 + (P: rounding 1) + thr 3 +
      |    -- quant 5 + (P: fcode 3); bytes = bits // 8 + 1 (stuffing)
      |    4 + (2 + (modulo + 1) + 1 + inc_bits + 1 + 1
      |      + (CASE WHEN ct = 1 THEN 1 ELSE 0 END) + 3 + 5
      |      + (CASE WHEN ct = 1 THEN 3 ELSE 0 END)) // 8 + 1
      |      + payn AS vop_bytes
      |  FROM vops),
      |ofs AS (SELECT *, vol_end + coalesce(sum(vop_bytes) OVER (
      |    PARTITION BY container ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS "offset"
      |  FROM sized),
      |pay AS (SELECT o.container, o.t,
      |    sum(32 + (o.t * 5 + k.k * 11 + o.container) % 200)
      |      AS payload_sum
      |  FROM ofs o, (SELECT unnest(range(16)) AS k) k
      |  WHERE k.k < o.payn GROUP BY 1, 2)
      |SELECT o.container, CAST(o.t AS BIGINT) AS t,
      |  CAST(o."offset" AS BIGINT) AS "offset",
      |  CAST(o.ct AS BIGINT) AS coding_type,
      |  CAST(o.modulo AS BIGINT) AS modulo,
      |  CAST(o.time_inc AS BIGINT) AS time_inc,
      |  CAST(o.quant AS BIGINT) AS quant,
      |  CAST(o.fcode AS BIGINT) AS fcode,
      |  CAST(176 + 16 * (o.container % 8) AS BIGINT) AS width,
      |  CAST(144 + 16 * (o.container % 4) AS BIGINT) AS height,
      |  CAST(o.inc_bits AS BIGINT) AS inc_bits,
      |  CAST(p.payload_sum AS BIGINT) AS payload_sum
      |FROM ofs o
      |JOIN pay p ON p.container = o.container AND p.t = o.t
      |ORDER BY o.container, o.t""".stripMargin

  /** m71: H.264 DEBLOCKING ([[graft.sources.H264Recon.deblock]],
    * §8.7) — m68's named follow-on: frames alternate a 2×1-MB
    * picture (one VERTICAL MB boundary) and a 1×2-MB picture (one
    * HORIZONTAL boundary), each with uniform per-MB reconstruction
    * (residuals placed so the DC/Vertical cascade keeps every MB
    * flat), so the ENGINE runs the complete two-pass in-loop filter
    * — every internal transform edge fires and resolves to the
    * §8.7.2.3/.4 identities on flat input, the MB edge takes the
    * strong path, and the NEXT internal edge applies the
    * second-order p1 correction to the strong filter's tail — while
    * the oracle replays the closed forms: the six-tap strong-edge
    * sum, the (e2 − 2·e1) >> 1 correction, and the chroma 3-tap
    * pair, all under the α/β/tc0 seam at the frame's QP. */
  private[operators] object DeblockKernel extends Serializable {
    import graft.sources.{H264, H264Recon}
    def rows(cid: Long, count: Int)
        : Iterator[(Long, Long, Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 1) return Iterator.empty
      val c = cid.toInt
      val pps = H264.parsePps(H264.writePps())
      (0 until n).iterator.map { t =>
        val vertical = t % 2 == 0
        val sps = H264.parseSps(
          if (vertical) H264.writeSps(32, 16) else H264.writeSps(16, 32))
        val qpDelta = (t + c) % 5 - 2
        val c0 = (t + c) % 2
        val c1 = (t * 3 + c) % 2
        def modes(mr: Int): Array[Int] = Array.tabulate(16) { idx =>
          val (_, by) = H264.blk4x4Pos(idx)
          if (mr == 0 && by == 0) 2 else 0
        }
        def dcBlk(cv: Int, blks: Seq[Int]): Vector[Array[Int]] =
          Vector.tabulate(16) { b =>
            val a = new Array[Int](16)
            if (blks.contains(b)) a(0) = cv
            a
          }
        val (mbModes, luma) =
          if (vertical)
            (Vector(modes(0), modes(0)),
              Vector(dcBlk(c0, Seq(0)), dcBlk(c1, Seq(0))))
          else
            (Vector(modes(0), modes(1)),
              // the lower MB's whole top block row carries the
              // residual so the Vertical cascade keeps it uniform
              Vector(dcBlk(c0, Seq(0)), dcBlk(c1, Seq(0, 1, 4, 5))))
        def c2Of(mb: Int, comp: Int): Int = (t * 3 + mb * 5 + comp + c) % 2
        val cdc = Vector.tabulate(2)(mb => Vector.tabulate(2)(comp =>
          Array(c2Of(mb, comp), 0, 0, 0)))
        val cac = Vector.fill(2)(Vector.fill(2)(
          Vector.fill(4)(Array.empty[Int])))
        val nal = H264.writeIntraCodedSlice(0, sps, pps, mbModes,
          Vector(0, if (vertical) 0 else 2), Vector.fill(2)(0x1F),
          Vector(qpDelta, 0), luma, cdc, cac)
        val (info, mbs) = H264.parseIntraCodedSlice(nal, sps, pps)
        val rec = H264Recon.decodeI4Frame(info, mbs, sps, pps)
        val qp = 26 + qpDelta
        val out = H264Recon.deblock(rec, _ => qp, sps)
        val lumaSum = out.y.iterator.flatMap(_.iterator)
          .map(_.toLong).sum
        val chromaSum = out.u.iterator.flatMap(_.iterator)
          .map(_.toLong).sum +
          out.v.iterator.flatMap(_.iterator).map(_.toLong).sum
        // the strong tail + its correction, at a pinned coordinate
        val (tailY, tailX) = if (vertical) (0, 18) else (18, 0)
        (cid, t.toLong, if (vertical) 0L else 1L, qp.toLong,
          lumaSum, chromaSum, out.y(0)(0).toLong,
          out.y(tailY)(tailX).toLong)
      }
    }
  }

  private def m71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(DeblockKernel.rows)
      .toDF("container", "t", "kind", "qp", "luma_sum", "chroma_sum",
        "y00", "tail")
      .orderBy(col("container"), col("t"))
  }

  private val m71Sql =
    s"""${viewCnt(6, pairs = false)}
      |f AS (SELECT container, g.t,
      |    26 + (g.t + container) % 5 - 2 AS qp,
      |    (g.t + container) % 2 AS c0,
      |    (g.t * 3 + container) % 2 AS c1
      |  FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |q AS (SELECT *, list_extract([10, 11, 13, 14, 16],
      |    CAST(qp % 6 + 1 AS INT)) AS ls FROM f),
      |-- uniform MB values: P = 128 + u0, Q = P + u1 (the m68 cascade
      |-- with residuals only on the leading block row)
      |vals AS (SELECT *,
      |    128 + (c0 * ls * 16 + 32) // 64 AS p,
      |    128 + (c0 * ls * 16 + 32) // 64 + (c1 * ls * 16 + 32) // 64
      |      AS qv,
      |    ((((t * 3 + 0 * 5 + 0 + container) % 2) * ls * 16) // 2 + 32)
      |      // 64 AS uc00,
      |    ((((t * 3 + 0 * 5 + 1 + container) % 2) * ls * 16) // 2 + 32)
      |      // 64 AS uc01,
      |    ((((t * 3 + 1 * 5 + 0 + container) % 2) * ls * 16) // 2 + 32)
      |      // 64 AS uc10,
      |    ((((t * 3 + 1 * 5 + 1 + container) % 2) * ls * 16) // 2 + 32)
      |      // 64 AS uc11
      |  FROM q),
      |-- strong-edge six-tap sum, the p1 correction, chroma 3-taps
      |forms AS (SELECT *,
      |    (7 * p + qv + 4) // 8 + (3 * p + qv + 2) // 4
      |      + (5 * p + 3 * qv + 4) // 8 + (5 * qv + 3 * p + 4) // 8
      |      + (3 * qv + p + 2) // 4 + (7 * qv + p + 4) // 8 AS s6,
      |    -- floor semantics under negatives: DuckDB // truncates,
      |    -- the engine's >> floors — shift into the positive range
      |    (((p - qv + 2 + 64) // 4 - 16)
      |      - 2 * ((p - qv + 4) // 8) + 32) // 2 - 16 AS corr,
      |    128 + uc00 AS cu_p, 128 + uc00 + uc10 AS cu_q,
      |    128 + uc01 AS cv_p, 128 + uc01 + uc11 AS cv_q
      |  FROM vals),
      |summed AS (SELECT *,
      |    -- luma: 512 px split 256 P + 256 Q, six columns/rows of 16
      |    -- replaced by the strong outputs, one line of 16 corrected
      |    256 * p + 256 * qv + 16 * (s6 - 3 * p - 3 * qv) + 16 * corr
      |      AS luma_sum,
      |    -- chroma per component: 128 px, the two boundary lines of
      |    -- 8 replaced by the 3-tap pair
      |    128 * 0 + 64 * cu_p + 64 * cu_q
      |      + 8 * ((3 * cu_p + cu_q + 2) // 4
      |        + (3 * cu_q + cu_p + 2) // 4 - cu_p - cu_q)
      |    + 64 * cv_p + 64 * cv_q
      |      + 8 * ((3 * cv_p + cv_q + 2) // 4
      |        + (3 * cv_q + cv_p + 2) // 4 - cv_p - cv_q) AS chroma_sum,
      |    (7 * qv + p + 4) // 8 + corr AS tail
      |  FROM forms)
      |SELECT container, CAST(t AS BIGINT) AS t,
      |  CAST(t % 2 AS BIGINT) AS kind,
      |  CAST(qp AS BIGINT) AS qp,
      |  CAST(luma_sum AS BIGINT) AS luma_sum,
      |  CAST(chroma_sum AS BIGINT) AS chroma_sum,
      |  CAST(p AS BIGINT) AS y00,
      |  CAST(tail AS BIGINT) AS tail
      |FROM summed
      |ORDER BY container, t""".stripMargin

  /** m72: H.264 CABAC RESIDUAL CODING — the boundary m69 declared
    * loudly ("residual CABAC out of this leg") now closed: I slices
    * whose macroblocks carry REAL coefficient data through the
    * §9.3.2.3 syntax — coded_block_flag with same-category neighbor
    * contexts, significance/last maps per scan position (incl. the
    * implied-last path), UEG0 levels through the Eq1/Gt1 context
    * machine with the EG0 bypass escape, bypass signs, mb_qp_delta's
    * mapped unary conditioned on the previous delta, chroma CBP
    * bin 1, and I_PCM re-init cycles interleaved. Every emitted
    * number passes through the full encode → decode arithmetic round
    * trip; the oracle replays the draws. */
  private[operators] object CabacResidualKernel extends Serializable {
    import graft.sources.H264
    def rows(cid: Long, count: Int): Iterator[(Long, Long, Long, Long,
        Long, Long, Long, Long)] = {
      val n = math.min(5, count)
      if (n < 1) return Iterator.empty
      val sps = H264.parseSps(H264.writeSps(48, 32))
      val pps = H264.parsePps(H264.writePps(cabac = true))
      val c = cid.toInt
      (0 until n).iterator.map { t =>
        val mbs: Vector[H264.CabacMb] = Vector.tabulate(6) { i =>
          if ((t + i + c) % 5 == 4)
            H264.CabacPcm(
              Array.tabulate(256)(k =>
                ((t * 31 + i * 13 + k * 7 + c) % 251).toByte),
              Array.tabulate(64)(k =>
                ((t * 17 + i * 7 + k * 3 + c) % 251).toByte),
              Array.tabulate(64)(k =>
                ((t * 11 + i * 5 + k * 9 + c) % 251).toByte))
          else {
            val quads = (t * 5 + i * 7 + c) % 16
            val chroma = (t + i) % 3
            val cbp = quads | (chroma << 4)
            val luma = Vector.tabulate(16) { blk =>
              val a = new Array[Int](16)
              if ((quads & (1 << (blk / 4))) != 0)
                Seq(0, 3, 7, 15).foreach { p =>
                  a(p) =
                    if (p == 15 && (blk + t) % 4 == 0)
                      20 + (i + c) % 30
                    else (t + i * 3 + blk * 5 + p * 7 + c) % 9 - 4
                }
              a
            }
            val cdc = Vector.tabulate(2) { comp =>
              val a = new Array[Int](4)
              if (chroma >= 1) Seq(0, 2).foreach(p =>
                a(p) = (t * 3 + i + comp * 5 + p + c) % 7 - 3)
              a
            }
            val cac = Vector.tabulate(2)(comp => Vector.tabulate(4) { blk =>
              val a = new Array[Int](15)
              if (chroma == 2) Seq(1, 14).foreach(p =>
                a(p) = (t + i + comp + blk * 3 + p + c) % 5 - 2)
              a
            })
            H264.CabacCoded(
              Array.tabulate(16)(idx => (t * 3 + i * 5 + idx * 7 + c) % 9),
              (t + i * 3 + c) % 4, cbp,
              if (cbp != 0) (t + i + c) % 5 - 2 else 0,
              luma, cdc, cac)
          }
        }
        val nal = H264.writeCabacCodedSlice(t, sps, pps, mbs)
        val (_, got) = H264.parseCabacCodedSlice(nal, sps, pps)
        var nPcm = 0L; var modeSum = 0L; var cbpSum = 0L
        var qpFinal = 26L; var coeffAbs = 0L; var pcmY = 0L
        got.foreach {
          case m: H264.CabacCoded =>
            modeSum += m.lumaModes.map(_.toLong).sum + m.chromaMode
            cbpSum += m.cbp
            if (m.cbp != 0) qpFinal += m.qpDelta
            coeffAbs += m.luma.iterator.flatMap(_.iterator)
              .map(v => math.abs(v).toLong).sum +
              m.chromaDc.iterator.flatMap(_.iterator)
                .map(v => math.abs(v).toLong).sum +
              m.chromaAc.iterator.flatMap(_.iterator).flatMap(_.iterator)
                .map(v => math.abs(v).toLong).sum
          case p2: H264.CabacPcm =>
            nPcm += 1
            pcmY += p2.y.iterator.map(_ & 0xffL).sum
          case _: H264.CabacI4 => throw new IllegalStateException(
            "m71: the coded-slice parser returned a CabacI4 MB")
        }
        (cid, t.toLong, nPcm, modeSum, cbpSum, qpFinal, coeffAbs, pcmY)
      }
    }
  }

  private def m72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(CabacResidualKernel.rows)
      .toDF("container", "t", "n_pcm", "mode_sum", "cbp_sum",
        "qp_final", "coeff_abs_sum", "pcm_y_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m72Sql =
    s"""${viewCnt(5, pairs = false)}
      |frames AS (SELECT container, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, t, i.i,
      |    (t + i.i + container) % 5 = 4 AS is_pcm,
      |    (t * 5 + i.i * 7 + container) % 16 AS quads,
      |    (t + i.i) % 3 AS chroma
      |  FROM frames, (SELECT unnest(range(6)) AS i) i),
      |coded AS (SELECT *, quads + chroma * 16 AS cbp FROM mb
      |  WHERE NOT is_pcm),
      |-- luma coefficients on the coded quads
      |lc AS (SELECT m.container, m.t,
      |    sum(CASE WHEN (m.quads & (1 << (b.b // 4))) != 0 THEN
      |      CASE WHEN p.p = 15 AND (b.b + m.t) % 4 = 0
      |        THEN 20 + (m.i + m.container) % 30
      |        ELSE abs((m.t + m.i * 3 + b.b * 5 + p.p * 7 + m.container)
      |          % 9 - 4) END
      |      ELSE 0 END) AS s
      |  FROM coded m, (SELECT unnest(range(16)) AS b) b,
      |    (SELECT unnest([0, 3, 7, 15]) AS p) p
      |  GROUP BY 1, 2),
      |dc AS (SELECT m.container, m.t,
      |    sum(CASE WHEN m.chroma >= 1 THEN
      |      abs((m.t * 3 + m.i + comp.comp * 5 + p.p + m.container)
      |        % 7 - 3) ELSE 0 END) AS s
      |  FROM coded m, (SELECT unnest(range(2)) AS comp) comp,
      |    (SELECT unnest([0, 2]) AS p) p
      |  GROUP BY 1, 2),
      |ac AS (SELECT m.container, m.t,
      |    sum(CASE WHEN m.chroma = 2 THEN
      |      abs((m.t + m.i + comp.comp + b.b * 3 + p.p + m.container)
      |        % 5 - 2) ELSE 0 END) AS s
      |  FROM coded m, (SELECT unnest(range(2)) AS comp) comp,
      |    (SELECT unnest(range(4)) AS b) b,
      |    (SELECT unnest([1, 14]) AS p) p
      |  GROUP BY 1, 2),
      |modes AS (SELECT m.container, m.t,
      |    sum((m.t * 3 + m.i * 5 + x.idx * 7 + m.container) % 9)
      |    + sum(CASE WHEN x.idx = 0
      |        THEN (m.t + m.i * 3 + m.container) % 4 ELSE 0 END) AS s
      |  FROM coded m, (SELECT unnest(range(16)) AS idx) x
      |  GROUP BY 1, 2),
      |agg AS (SELECT m.container, m.t,
      |    sum(CASE WHEN m.is_pcm THEN 1 ELSE 0 END) AS n_pcm
      |  FROM mb m GROUP BY 1, 2),
      |cbps AS (SELECT container, t, sum(cbp) AS cbp_sum,
      |    26 + sum(CASE WHEN cbp != 0
      |      THEN (t + i + container) % 5 - 2 ELSE 0 END) AS qp_final
      |  FROM coded GROUP BY 1, 2),
      |py AS (SELECT m.container, m.t,
      |    sum((m.t * 31 + m.i * 13 + k.k * 7 + m.container) % 251)
      |      AS pcm_y
      |  FROM mb m, (SELECT unnest(range(256)) AS k) k
      |  WHERE m.is_pcm GROUP BY 1, 2)
      |SELECT f.container, CAST(f.t AS BIGINT) AS t,
      |  CAST(a.n_pcm AS BIGINT) AS n_pcm,
      |  CAST(coalesce(mo.s, 0) AS BIGINT) AS mode_sum,
      |  CAST(coalesce(cb.cbp_sum, 0) AS BIGINT) AS cbp_sum,
      |  CAST(coalesce(cb.qp_final, 26) AS BIGINT) AS qp_final,
      |  CAST(coalesce(lc.s, 0) + coalesce(dc.s, 0) + coalesce(ac.s, 0)
      |    AS BIGINT) AS coeff_abs_sum,
      |  CAST(coalesce(py.pcm_y, 0) AS BIGINT) AS pcm_y_sum
      |FROM frames f
      |JOIN agg a ON a.container = f.container AND a.t = f.t
      |LEFT JOIN modes mo ON mo.container = f.container AND mo.t = f.t
      |LEFT JOIN cbps cb ON cb.container = f.container AND cb.t = f.t
      |LEFT JOIN lc ON lc.container = f.container AND lc.t = f.t
      |LEFT JOIN dc ON dc.container = f.container AND dc.t = f.t
      |LEFT JOIN ac ON ac.container = f.container AND ac.t = f.t
      |LEFT JOIN py ON py.container = f.container AND py.t = f.t
      |ORDER BY f.container, f.t""".stripMargin

  private[operators] object Mp3PcmStreamKernel extends Serializable {
    def rows(cid: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      import graft.sources.Mp3
      val n = math.min(6, count)
      if (n < 1) return Iterator.empty
      val frames = (0 until n).map(i => DspQueries.Mp3PcmFixtures
        .frame(i + cid.toInt * 7, padding = i % 2 == 1))
      val bytes = Mp3.muxReservoir(frames)
      val hex = java.util.HexFormat.of()
      val out = Vector.newBuilder[(String, Int, Long, Double, String,
        Boolean, Long)]
      var pos = 0
      (0 until n).foreach { i =>
        val fl = frames(i).frameLen
        out += ((cid.toString, 0, i.toLong, 0.0,
          hex.formatHex(java.util.Arrays.copyOfRange(bytes, pos, pos + fl)),
          false, i.toLong))
        pos += fl
      }
      require(pos == bytes.length, s"chunk $cid: frame split drift")
      out.result().iterator
    }
  }

  private def e57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{Mp3Machine, StatefulRunner}
    val fixture = KernelGroups.countKernel(clickChunks(s, d))(
        Mp3PcmStreamKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e57@$d",
        ds => StatefulRunner.runStreaming(
          new Mp3Machine.PcmDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("chunk_id"),
        col("ts").as("i"),
        col("value").cast("long").as("part23"),
        split(col("text"), ",")(0).cast("long").as("pcm_sum"),
        split(col("text"), ",")(1).cast("long").as("pcm0"))
      .orderBy(col("chunk_id"), col("i"))
  }

  private val e57Sql =
    DspQueries.p31Lattice + s"""
      |SELECT fr.chunk_id, CAST(fr.i AS BIGINT) AS i,
      |  CAST(p30.bits + p31.bits AS BIGINT) AS part23,
      |  CAST(coalesce(p.pcm_sum, 0) AS BIGINT) AS pcm_sum,
      |  CAST(coalesce(p0.v, 0) AS BIGINT) AS pcm0
      |FROM f fr
      |JOIN p3 p30 ON p30.chunk_id = fr.chunk_id AND p30.i = fr.i
      |  AND p30.gr = 0
      |JOIN p3 p31 ON p31.chunk_id = fr.chunk_id AND p31.i = fr.i
      |  AND p31.gr = 1
      |LEFT JOIN pcm p ON p.chunk_id = fr.chunk_id AND p.i = fr.i
      |LEFT JOIN pcm0 p0 ON p0.chunk_id = fr.chunk_id AND p0.i = fr.i
      |ORDER BY fr.chunk_id, fr.i""".stripMargin

  /** e58: STREAMING AAC DECODE-TO-SAMPLES — p32's streaming twin
    * and the AAC member of the decode family (e53–e57): each ADTS
    * frame's first 1024 output samples ring with the PREVIOUS
    * frame's windowed IMDCT tail, so the 1024-Long overlap store
    * ([[graft.sources.AacPcm.Overlap.flat]], 8 KB per key, CONSTANT)
    * crosses real micro-batch boundaries through the state store;
    * exact sums ride the text channel. Fixture: exactly p32's
    * window-sequence-cycling SCE frames, one per ADTS frame per
    * event; oracle: p32's kernel lattice down to the same per-frame
    * functionals. Scale: state per key is constant; scale-out is
    * keys × executors, identical to e53–e57. */
  private[operators] object AacPcmStreamKernel extends Serializable {
    def rows(cid: Long, count: Int)
        : Iterator[(String, Int, Long, Double, String, Boolean, Long)] = {
      import graft.sources.{Aac, AudioIndex}
      val n = math.min(6, count)
      if (n < 1) return Iterator.empty
      val hex = java.util.HexFormat.of()
      (0 until n).iterator.map { i =>
        val ics = DspQueries.AacPcmFixtures.sce(i + cid.toInt * 7)
        val adts = AudioIndex.adtsMux(Seq(AudioIndex.AdtsFrame(1, 4, 1,
          crcPresent = false, Aac.muxSce(ics))))
        (cid.toString, 0, i.toLong, 0.0, hex.formatHex(adts), false,
          i.toLong)
      }
    }
  }

  private def e58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{AacMachine, StatefulRunner}
    val fixture = KernelGroups.countKernel(clickChunks(s, d))(
        AacPcmStreamKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e58@$d",
        ds => StatefulRunner.runStreaming(
          new AacMachine.PcmDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("chunk_id"),
        col("ts").as("i"),
        col("value").cast("long").as("seq"),
        split(col("text"), ",")(0).cast("long").as("pcm_sum"),
        split(col("text"), ",")(1).cast("long").as("pcm_alt"),
        split(col("text"), ",")(2).cast("long").as("pcm0"))
      .orderBy(col("chunk_id"), col("i"))
  }

  private lazy val e58Sql =
    DspQueries.p32Lattice + s"""
      |SELECT fr.chunk_id, CAST(fr.i AS BIGINT) AS i,
      |  CAST(fr.seq AS BIGINT) AS seq,
      |  CAST(coalesce(c.cs, 0) + coalesce(pr.ts, 0) AS BIGINT)
      |    AS pcm_sum,
      |  CAST(coalesce(c.ca, 0) + coalesce(pr.ta, 0) AS BIGINT)
      |    AS pcm_alt,
      |  CAST(coalesce(c.cp, 0) + coalesce(pr.tp, 0) AS BIGINT) AS pcm0
      |FROM f fr
      |LEFT JOIN cur c ON c.chunk_id = fr.chunk_id AND c.i = fr.i
      |LEFT JOIN cur pr ON pr.chunk_id = fr.chunk_id
      |  AND pr.i = fr.i - 1
      |ORDER BY fr.chunk_id, fr.i""".stripMargin

  private def e56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{Mp3Machine, StatefulRunner}
    val fixture = KernelGroups.countKernel(clickChunks(s, d))(
        Mp3ReservoirStreamKernel.rows)
      .toDF("key", "topic", "ts", "value", "text", "paused", "seq")
    StreamParityQueries.throughStream(s, fixture,
        Seq(col("ts"), col("seq")), s"e56@$d",
        ds => StatefulRunner.runStreaming(
          new Mp3Machine.ReservoirDecoder, ds),
        Map.empty)
      .select(col("key").cast("long").as("chunk_id"),
        col("ts").as("i"),
        split(col("text"), ",")(0).cast("long").as("mdb"),
        split(col("text"), ",")(1).cast("long").as("part23"),
        col("value").cast("long").as("code_sum"))
      .orderBy(col("chunk_id"), col("i"))
  }

  private val e56Sql =
    s"""${DspQueries.clickCnt(10)}
      |f AS (SELECT chunk_id, g.i, g.i + chunk_id * 7 AS fi FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |fg AS (SELECT chunk_id, i, fi, gg.gr FROM f,
      |  (SELECT unnest(range(2)) AS gr) gg),
      |side AS (SELECT chunk_id, i, fi, gr,
      |    5 + (fi * 7 + gr * 3) % 15 AS bv,
      |    (fi + gr) % 6 AS rc0, (fi * 3 + gr) % 6 AS rc1,
      |    18 + (fi + gr) % 2 AS t2,
      |    (fi + 2 * gr) % 16 AS sfc,
      |    (fi * 3 + gr) % 8 AS nq
      |  FROM fg),
      |reg AS (SELECT *,
      |    least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r0,
      |    least(bv, (rc0 + rc1 + 2) * (rc0 + rc1 + 3) // 2)
      |      - least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r1
      |  FROM side),
      |bvv AS (SELECT r.chunk_id, r.i, r.fi, r.gr, r.t2, v.idx,
      |    CASE WHEN v.idx // 2 < r.r0 + r.r1
      |      THEN list_extract([0, 1, 8],
      |        CAST((r.fi * 5 + v.idx * 7 + r.gr * 11) % 3 + 1 AS INT))
      |      ELSE list_extract([0, 1, 8, 27],
      |        CAST((r.fi * 5 + v.idx * 7 + r.gr * 11) % 4 + 1 AS INT))
      |    END AS m
      |  FROM reg r, (SELECT unnest(range(40)) AS idx) v
      |  WHERE v.idx < 2 * r.bv),
      |bvagg AS (SELECT chunk_id, i, gr,
      |    sum(m) AS code_sum,
      |    sum(4 + (CASE WHEN m != 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m >= 15 THEN t2 - 14 ELSE 0 END)) AS bv_bits
      |  FROM bvv GROUP BY 1, 2, 3),
      |c1 AS (SELECT s.chunk_id, s.i, s.gr,
      |    count(*) FILTER (q.q < s.nq
      |      AND ((s.fi + q.q * 5 + p.pos * 3 + s.gr) % 3) != 1)
      |      AS c1_nonzero
      |  FROM side s, (SELECT unnest(range(8)) AS q) q,
      |    (SELECT unnest(range(4)) AS pos) p
      |  GROUP BY 1, 2, 3),
      |slen AS (SELECT s.chunk_id, s.i, s.fi, s.gr, b.band,
      |    CASE WHEN b.band < 11
      |      THEN list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
      |        CAST(s.sfc + 1 AS INT))
      |      ELSE list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
      |        CAST(s.sfc + 1 AS INT)) END AS len,
      |    (s.fi + (CASE WHEN b.band < 6 THEN 0 WHEN b.band < 11 THEN 1
      |      WHEN b.band < 16 THEN 2 ELSE 3 END)) % 3 = 0 AS shared0
      |  FROM side s, (SELECT unnest(range(21)) AS band) b),
      |p2 AS (SELECT chunk_id, i, gr,
      |    sum(CASE WHEN gr = 1 AND shared0 THEN 0 ELSE len END) AS p2bits
      |  FROM slen GROUP BY 1, 2, 3),
      |fb AS (SELECT s.chunk_id, s.i, max(s.fi) AS fi,
      |    CAST(sum(p2.p2bits + a.bv_bits + s.nq * 4 + c1.c1_nonzero)
      |      AS BIGINT) AS part23,
      |    CAST(sum(a.code_sum) AS BIGINT) AS code_sum
      |  FROM side s
      |  JOIN bvagg a ON a.chunk_id = s.chunk_id AND a.i = s.i
      |    AND a.gr = s.gr
      |  JOIN c1 ON c1.chunk_id = s.chunk_id AND c1.i = s.i
      |    AND c1.gr = s.gr
      |  JOIN p2 ON p2.chunk_id = s.chunk_id AND p2.i = s.i
      |    AND p2.gr = s.gr
      |  GROUP BY 1, 2),
      |sz AS (SELECT chunk_id, i, fi, part23, code_sum,
      |    (part23 + 7) // 8 AS main_bytes,
      |    195 + fi % 2 AS slot
      |  FROM fb),
      |cumu AS (SELECT *,
      |    coalesce(sum(slot) OVER (PARTITION BY chunk_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS slot_start,
      |    coalesce(sum(main_bytes) OVER (PARTITION BY chunk_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS pre_main
      |  FROM sz),
      |mx AS (SELECT *,
      |    max((CASE WHEN i = 0 THEN 0 ELSE slot_start - 511 END)
      |      - pre_main) OVER (PARTITION BY chunk_id ORDER BY i) AS amax
      |  FROM cumu)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST(slot_start - (pre_main + amax) AS BIGINT) AS mdb,
      |  part23, code_sum
      |FROM mx ORDER BY chunk_id, i""".stripMargin

  /** m56: VP8 IN-SPEC CONFORMANCE HEADERS (§9.4/§9.7/§13.4/§15.2) —
    * the three mechanisms nearly every real libvpx stream uses,
    * through real coded bits: COEFFICIENT-PROBABILITY UPDATES with
    * both refresh_entropy_probs regimes (the keyframe updates persist,
    * frame 1's revert after the frame, frame 3's persist again — any
    * asymmetry desyncs the bool decoder and the values explode),
    * LOOP-FILTER DELTAS (the keyframe's intra-ref delta −18 zeroes its
    * level — pixels prove it filtered NOTHING — and the odd frames
    * update LAST-ref/ZEROMV deltas that the even frames inherit via
    * §9.4's remembered-values semantics), and SHARPNESS 0–7 rescaling
    * the §15.2 interior limit. Fixture: the m55 single-column 16×32
    * form; only the LAST frame filters (level clamp(18+aL+bZ) from the
    * PERSISTED deltas, drawn sharpness), so the one active MB edge at
    * y = 16 has the closed wide-path form over the SIGNED step D —
    * mask 2|D|+|D|/2 ≤ 2(L+2)+il(L,s), u27 = (54D+63)>>7,
    * u18 = (36D+63)>>7 — which the oracle replays per frame including
    * the clamp-to-0-disables and mask-fail regimes. Entropy update
    * schedule: kf (1,0,c,0)×3 refresh=1; t=1 refresh=0; t=2 none
    * (proves revert); t=3 refresh=1; t=4+ none (proves persistence).
    * Scale: the m40 envelope — one group iterator per container, a
    * [[graft.functions.Vp8.Ctx]] (≈4 KB) of decoder state per stream,
    * never crossing a shuffle. */
  private[operators] object Vp8ConformKernel extends Serializable {
    def rows(k: Long, count: Int): Iterator[(Long, Long, Boolean, Long,
        Long, Long, Long, Long, Long, Long)] = {
      val n = math.min(6, count)
      if (n < 2) return Iterator.empty
      def draw(tag: String, t: Int, j: Int = -1): Int =
        hexbyte(if (j < 0) s"vp8$tag${k}_$t" else s"vp8$tag${k}_${t}_$j")
      val cxE = new Vp8.Ctx(Vp8.Profile.StandIn)
      // (coefficient-probability updates, refresh_entropy_probs)
      def upd(t: Int): (Vector[Vp8.CoeffUpdate], Boolean) = t match {
        case 0 => (Vector(
          Vp8.CoeffUpdate(1, 0, 0, 0, 1 + draw("p", 0, 0) % 254),
          Vp8.CoeffUpdate(1, 0, 1, 0, 1 + draw("p", 0, 1) % 254),
          Vp8.CoeffUpdate(1, 0, 2, 0, 1 + draw("p", 0, 2) % 254)), true)
        case 1 => (Vector(Vp8.CoeffUpdate(1, 0, 0, 0,
          1 + draw("q", t) % 254)), false)
        case 3 => (Vector(Vp8.CoeffUpdate(1, 0, 0, 0,
          1 + draw("q", t) % 254)), true)
        case _ => (Vector.empty, true)
      }
      def lfUpd(t: Int): Option[Vp8.LfDeltaUpdate] =
        if (t == 0) Some(Vp8.LfDeltaUpdate(Vector((0, -18))))
        else if (t % 2 == 1) Some(Vp8.LfDeltaUpdate(Vector(
          (1, draw("b", t) % 19 - 9), (5, draw("c", t) % 19 - 9))))
        else None
      val payloads = Vp8.encode(Vp8.KeyFrame(16, 32, 0,
        Vector(vp8KeyMb(1 + draw("u", 0, 0) % 100),
          vp8KeyMb(1 + draw("u", 0, 1) % 100)),
        filterLevel = 18, normalFilter = true,
        sharpness = draw("s", 0) % 8, lfDeltaEnabled = true,
        lfDeltaUpdate = lfUpd(0), coeffUpdates = upd(0)._1),
        ctx = cxE) +:
        (1 until n).map { t =>
          val (cu, refresh) = upd(t)
          Vp8.encodeInter(16, 32, Vp8.InterFrame(0,
            Vector(vp8InterMb(draw("u", t, 0) % 60),
              vp8InterMb(draw("u", t, 1) % 60)),
            filterLevel = if (t == n - 1) 18 else 0, normalFilter = true,
            sharpness = draw("s", t) % 8, lfDeltaEnabled = true,
            lfDeltaUpdate = lfUpd(t), refreshEntropy = refresh,
            coeffUpdates = cu), ctx = cxE)
        }
      Vp8.decodeStream(payloads).iterator.zipWithIndex.map { case (f, t) =>
        val (cu, refresh) = upd(t)
        require(f.coded.fold(
          d => (d.frame.sharpness, d.frame.lfDeltaEnabled,
            d.frame.lfDeltaUpdate, d.frame.refreshEntropy,
            d.frame.coeffUpdates),
          d => (d.frame.sharpness, d.frame.lfDeltaEnabled,
            d.frame.lfDeltaUpdate, d.frame.refreshEntropy,
            d.frame.coeffUpdates)) ==
          (draw("s", t) % 8, true, lfUpd(t), refresh, cu),
          s"container $k frame $t: conformance header drift")
        (k, t.toLong, t == 0, y2Levels(f), rowSum(f, 14), rowSum(f, 15),
          rowSum(f, 16), rowSum(f, 17), lumaSum(f), chromaSum(f))
      }
    }
  }

  private def m56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KernelGroups.countKernel(viewContainers(s, d))(Vp8ConformKernel.rows)
      .toDF("container", "t", "keyframe", "levels_sum", "r14", "r15",
        "r16", "r17", "luma_sum", "chroma_sum")
      .orderBy(col("container"), col("t"))
  }

  private val m56Sql =
    s"""${viewCnt(6)}
      |frames AS (SELECT container, n, g.t FROM cnt,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(t)),
      |mb AS (SELECT container, n, t, jj.j,
      |    CASE WHEN t = 0 THEN 1 + CAST(concat('0x', substr(md5('vp8u'
      |        || container || '_0_' || jj.j), 1, 2)) AS BIGINT) % 100
      |      ELSE CAST(concat('0x', substr(md5('vp8u' || container || '_'
      |        || t || '_' || jj.j), 1, 2)) AS BIGINT) % 60 END AS v
      |  FROM frames, (SELECT unnest(range(2)) AS j) jj),
      |r AS (SELECT container, n, t, j, v, (v + 4) // 8 AS r FROM mb),
      |k AS (SELECT container, j,
      |    sum(r) OVER (PARTITION BY container ORDER BY j) AS kcum
      |  FROM r WHERE t = 0),
      |p AS (SELECT container, n, t, j, v,
      |    sum(CASE WHEN t > 0 THEN r ELSE 0 END)
      |      OVER (PARTITION BY container, j ORDER BY t) AS pcum
      |  FROM r),
      |val AS (SELECT p.container, p.n, p.t, p.j, p.v,
      |    127 + k.kcum + p.pcum AS val
      |  FROM p JOIN k ON k.container = p.container AND k.j = p.j),
      |wide AS (SELECT container, n, t,
      |    max(CASE WHEN j = 0 THEN val END) AS v0,
      |    max(CASE WHEN j = 1 THEN val END) AS v1,
      |    sum(v) AS levels_sum
      |  FROM val GROUP BY 1, 2, 3),
      |-- the deltas the FINAL frame filters under are the last odd
      |-- frame's draws (§9.4 remembered values; even frames inherit)
      |del AS (SELECT container, n,
      |    CASE WHEN (n - 1) % 2 = 1 THEN n - 1 ELSE n - 2 END AS teff
      |  FROM cnt),
      |fl AS (SELECT d.container, d.n,
      |    CAST(concat('0x', substr(md5('vp8s' || d.container || '_'
      |      || (d.n - 1)), 1, 2)) AS BIGINT) % 8 AS s,
      |    greatest(0, least(63, 18
      |      + CAST(concat('0x', substr(md5('vp8b' || d.container || '_'
      |        || d.teff), 1, 2)) AS BIGINT) % 19 - 9
      |      + CAST(concat('0x', substr(md5('vp8c' || d.container || '_'
      |        || d.teff), 1, 2)) AS BIGINT) % 19 - 9)) AS L
      |  FROM del d),
      |-- §15.2 sharpness rescale of the interior limit
      |lim AS (SELECT container, n, s, L,
      |    CASE WHEN s = 0 THEN L
      |      ELSE greatest(1, least(9 - s,
      |        L // (CASE WHEN s > 4 THEN 4 ELSE 2 END))) END AS il
      |  FROM fl),
      |adj AS (SELECT w.container, w.t, w.n, w.v0, w.v1, w.levels_sum,
      |    w.v1 - w.v0 AS D,
      |    CASE WHEN w.t = w.n - 1 AND l.L > 0
      |      AND 2 * abs(w.v1 - w.v0) + abs(w.v1 - w.v0) // 2
      |        <= 2 * (l.L + 2) + l.il
      |    THEN 1 ELSE 0 END AS ap
      |  FROM wide w JOIN lim l ON l.container = w.container)
      |-- the >> 7 arithmetic shift FLOORS for negative D (DuckDB's //
      |-- truncates toward zero, so floor() explicitly)
      |SELECT container, CAST(t AS BIGINT) AS t, (t = 0) AS keyframe,
      |  CAST(levels_sum AS BIGINT) AS levels_sum,
      |  CAST(16 * (v0 + ap * floor((36 * D + 63) / 128.0))
      |    AS BIGINT) AS r14,
      |  CAST(16 * (v0 + ap * floor((54 * D + 63) / 128.0))
      |    AS BIGINT) AS r15,
      |  CAST(16 * (v1 - ap * floor((54 * D + 63) / 128.0))
      |    AS BIGINT) AS r16,
      |  CAST(16 * (v1 - ap * floor((36 * D + 63) / 128.0))
      |    AS BIGINT) AS r17,
      |  -- the wide taps are antisymmetric: the total is conserved
      |  CAST(256 * (v0 + v1) AS BIGINT) AS luma_sum,
      |  CAST(32768 AS BIGINT) AS chroma_sum
      |FROM adj ORDER BY container, t""".stripMargin

  val all: Seq[Q] = Seq(
    Q("e21_output_container", e21, Some(e21Sql)),
    Q("m04_demux_restamp", m04, Some(m04Sql)),
    Q("e23_named_streams", e23, Some(e23Sql)),
    Q("m16_wav_container", m14, Some(m14Sql)),
    Q("m17_avi_container", m15, Some(m15Sql)),
    Q("m18_real_demux_restamp", m18, Some(m18Sql)),
    Q("m19_mkv_container", m19, Some(m19Sql)),
    Q("m20_media_pipeline", m20, Some(m20Sql)),
    Q("m25_fmp4_container", m25, Some(m25Sql)),
    Q("m26_mpegts_container", m26, Some(m26Sql)),
    Q("m27_container_matrix", m27, Some(m27Sql)),
    Q("m28_motion_codec", m28, Some(m28Sql)),
    Q("m35_mp4_classic", m35, Some(m35Sql)),
    Q("m36_gvc_mp4", m36, Some(m36Sql)),
    Q("m37_h264_index", m37, Some(m37Sql)),
    Q("m38_vp8_ivf", m38, Some(m38Sql)),
    Q("m39_webm_vp8", m39, Some(m39Sql)),
    Q("m40_vp8_decode", m40, Some(m40Sql)),
    Q("m41_vp8_bpred", m41, Some(m41Sql)),
    Q("m42_webm_vp8_decode", m42, Some(m42Sql)),
    Q("m43_vp8_loopfilter", m43, Some(m43Sql)),
    Q("m44_vp8_pframes", m44, Some(m44Sql)),
    Q("m45_vp8_motion", m45, Some(m45Sql)),
    Q("m46_h264_ipcm", m46, Some(m46Sql)),
    Q("m47_webm_vp8_stream", m47, Some(m47Sql)),
    Q("m48_vp8_scene_detect", m48, Some(m48Sql)),
    Q("m49_vp8_golden_ref", m49, Some(m49Sql)),
    Q("e53_streaming_vp8", e53, Some(e53Sql)),
    Q("m50_vp8_skip", m50, Some(m50Sql)),
    Q("m51_vp8_qdelta", m51, Some(m51Sql)),
    Q("m52_vp8_partitions", m52, Some(m52Sql)),
    Q("m53_vp8_splitmv", m53, Some(m53Sql)),
    Q("m54_vp8_segmentation", m54, Some(m54Sql)),
    Q("m55_vp8_normal_filter", m55, Some(m55Sql)),
    Q("m56_vp8_conformance", m56, Some(m56Sql)),
    Q("e54_streaming_vp8_entropy", e54, Some(e54Sql)),
    Q("m57_h264_intra_modes", m57, Some(m57Sql)),
    Q("m58_vp8_buffer_lifecycle", m58, Some(m58Sql)),
    Q("m59_vp8_temporal_segments", m59, Some(m59Sql)),
    Q("m60_vp8_intra_refresh", m60, Some(m60Sql)),
    Q("m61_vp8_display_crop", m61, Some(m61Sql)),
    Q("m62_h264_cavlc", m62, Some(m62Sql)),
    Q("m63_vp8_upscale", m63, Some(m63Sql)),
    Q("e56_streaming_mp3_reservoir", e56, Some(e56Sql)),
    Q("e57_streaming_mp3_pcm", e57, Some(e57Sql)),
    Q("e58_streaming_aac_pcm", e58, Some(e58Sql)),
    Q("m64_h264_i16x16", m64, Some(m64Sql)),
    Q("m65_h264_pslice", m65, Some(m65Sql)),
    Q("m66_h264_multislice", m66, Some(m66Sql)),
    Q("m67_aac_mp4", m67, Some(m67Sql)),
    Q("m68_h264_recon", m68, Some(m68Sql)),
    Q("m69_h264_cabac", m69, Some(m69Sql)),
    Q("m70_mpeg4p2_index", m70, Some(m70Sql)),
    Q("m71_h264_deblock", m71, Some(m71Sql)),
    Q("m72_h264_cabac_residual", m72, Some(m72Sql)),
    Q("e55_streaming_vp8_lifecycle", e55, Some(e55Sql)),
    Q("m30_flv_container", m30, Some(m30Sql)),
    Q("m31_rtmp_chunks", m31, Some(m31Sql)),
    Q("m32_rtmp_metadata", m32, Some(m32Sql)),
  )
}
