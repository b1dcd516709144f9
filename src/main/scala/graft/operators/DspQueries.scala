package graft.operators

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** DSP-style operators (SURVEY §2.2) re-expressed as windowed SQL
  * aggregations over the `events` table — `value` plays the role of a
  * PCM sample, `event_type` the role of an audio track.
  *
  * Exactness: sample arithmetic goes through DECIMAL(12,2) (exact sums
  * independent of partition order); only the final statistic (rms,
  * mean) is a double derived from exact decimals and counts.
  *
  * Scale: every query is scan → groupBy(track, bucket) with map-side
  * partial aggregation; state per group is O(1). The mixer's
  * forward-fill window partitions by track — 5 independent sequential
  * chains, each tiny (one row per bucket), after the heavy per-bucket
  * aggregation was done distributively.
  */
object DspQueries {

  import graft.Tables.eventsMs
  import KernelGroups.clickChunks
  private val evMs = "SELECT *, epoch_ms(ts) AS ts_ms FROM events"
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** The oracle head of the click-sized kernels (p15–p34 here, e56–e58
    * in ContainerQueries): `c`, one row per chunk with
    * n = least(cap, its clicks). */
  private[operators] def clickCnt(cap: Int): String =
    s"""WITH c AS (SELECT user_id % 16 AS chunk_id,
       |    least($cap, count(*)) AS n
       |  FROM events WHERE event_type = 'click' GROUP BY 1),""".stripMargin

  /** audio volume meter (media/audiovolumemeter.py:61-68 + AudioChunker
    * media/util.py:131-148): re-chunk each track into 1-min blocks,
    * emit rms = sqrt(mean(x²)) per block. */
  private def p01(s: SparkSession, d: String): DataFrame =
    eventsMs(s, d)
      .select(col("event_type"), (col("ts_ms") - col("ts_ms") % 60000).as("bucket_ms"),
        dec(col("value")).as("v"))
      .groupBy(col("event_type"), col("bucket_ms"))
      .agg(count(lit(1)).as("n"),
        sum(col("v") * col("v")).cast(DoubleType).as("sum_sq"))
      .withColumn("rms", sqrt(col("sum_sq") / col("n")))
      .orderBy(col("event_type"), col("bucket_ms"))

  private val p01Sql =
    s"""SELECT event_type, ts_ms - ts_ms % 60000 AS bucket_ms,
       |  COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_sq,
       |  sqrt(CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) AS rms
       |FROM ($evMs)
       |GROUP BY event_type, ts_ms - ts_ms % 60000
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** video activity meter (media/videoactivitymeter.py:55-65): mean
    * absolute difference between consecutive "frames" (values) per
    * track, aggregated to 10-min buckets. */
  private def p02(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    eventsMs(s, d)
      .select(col("event_type"), col("ts_ms"), col("event_id"), dec(col("value")).as("v"))
      .withColumn("diff", abs(col("v") - lag(col("v"), 1).over(w)))
      .filter(col("diff").isNotNull)
      .groupBy(col("event_type"),
        (col("ts_ms") - col("ts_ms") % 600000).as("bucket_ms"))
      .agg(count(lit(1)).as("n"), sum(col("diff")).cast(DoubleType).as("sum_diff"))
      .withColumn("activity", col("sum_diff") / col("n"))
      .orderBy(col("event_type"), col("bucket_ms"))
  }

  private val p02Sql =
    s"""WITH t AS (SELECT event_type, ts_ms,
       |    abs(CAST(value AS DECIMAL(12,2)) -
       |        lag(CAST(value AS DECIMAL(12,2))) OVER (
       |          PARTITION BY event_type ORDER BY ts_ms, event_id)) AS diff
       |  FROM ($evMs))
       |SELECT event_type, ts_ms - ts_ms % 600000 AS bucket_ms,
       |  COUNT(*) AS n, CAST(SUM(diff) AS DOUBLE) AS sum_diff,
       |  CAST(SUM(diff) AS DOUBLE) / COUNT(*) AS activity
       |FROM t WHERE diff IS NOT NULL
       |GROUP BY event_type, ts_ms - ts_ms % 600000
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** audio mixer (media/audiomixer.py:99-120 + AudioSequencer
    * media/util.py:188-262): per 1-min bucket, sample-and-hold the
    * last value of each of the 5 tracks (gap-fill: hold across silent
    * buckets, 0 before a track's first sample), then sum across
    * tracks — the aligned-block sum without the real-time desync
    * healing. */
  private def p03(s: SparkSession, d: String): DataFrame = {
    val e = eventsMs(s, d)
    val lastPerBucket = e
      .select(col("event_type"), (col("ts_ms") - col("ts_ms") % 60000).as("bucket_ms"),
        col("ts_ms"), col("event_id"), dec(col("value")).as("v"))
      .groupBy(col("event_type"), col("bucket_ms"))
      .agg(max_by(col("v"), struct(col("ts_ms"), col("event_id"))).as("last_v"))
    val bounds = e.agg(
      (min(col("ts_ms")) - min(col("ts_ms")) % 60000).as("lo"),
      (max(col("ts_ms")) - max(col("ts_ms")) % 60000).as("hi"))
    // distributed two-level grid (see EventOps.tickGrid): no one-task
    // giant sequence array at 100× time spans
    val grid = EventOps.tickGrid(bounds, 60000L)
      .select(col("ts_ms").as("bucket_ms"))
    val tracks = e.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.crossJoin(tracks)
      .join(lastPerBucket, Seq("event_type", "bucket_ms"), "left")
      .withColumn("held", coalesce(
        last(col("last_v"), ignoreNulls = true).over(w),
        lit(0).cast(DecimalType(12, 2))))
      .groupBy(col("bucket_ms"))
      .agg(sum(col("held")).cast(DoubleType).as("mixed"))
      .orderBy(col("bucket_ms"))
  }

  private val p03Sql =
    s"""WITH e AS ($evMs),
       |lastv AS (SELECT event_type, ts_ms - ts_ms % 60000 AS bucket_ms,
       |    last(CAST(value AS DECIMAL(12,2)) ORDER BY ts_ms, event_id) AS last_v
       |  FROM e GROUP BY event_type, ts_ms - ts_ms % 60000),
       |grid AS (SELECT unnest(generate_series(
       |    (SELECT min(ts_ms) - min(ts_ms) % 60000 FROM e),
       |    (SELECT max(ts_ms) - max(ts_ms) % 60000 FROM e), 60000)) AS bucket_ms),
       |tracks AS (SELECT DISTINCT event_type FROM e),
       |held AS (SELECT g.bucket_ms, t.event_type,
       |    COALESCE(last_value(l.last_v IGNORE NULLS) OVER (
       |      PARTITION BY t.event_type ORDER BY g.bucket_ms
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |      CAST(0 AS DECIMAL(12,2))) AS held
       |  FROM grid g CROSS JOIN tracks t
       |  LEFT JOIN lastv l ON l.event_type = t.event_type AND l.bucket_ms = g.bucket_ms)
       |SELECT bucket_ms, CAST(SUM(held) AS DOUBLE) AS mixed
       |FROM held GROUP BY bucket_ms ORDER BY bucket_ms""".stripMargin

  /** audio chunker (media/util.py:131-148): re-chunk each track's
    * sample stream into fixed 128-sample blocks; per block emit count,
    * time span, exact sum. */
  private def p04(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    eventsMs(s, d)
      .select(col("event_type"), col("ts_ms"), col("event_id"), dec(col("value")).as("v"))
      .withColumn("chunk", ((row_number().over(w) - 1) / 128).cast(LongType))
      .groupBy(col("event_type"), col("chunk"))
      .agg(count(lit(1)).as("n"), min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"), sum(col("v")).cast(DoubleType).as("sum_v"))
      .orderBy(col("event_type"), col("chunk"))
  }

  private val p04Sql =
    s"""WITH t AS (SELECT event_type, ts_ms, value,
       |    CAST((row_number() OVER (PARTITION BY event_type ORDER BY ts_ms, event_id) - 1)
       |         // 128 AS BIGINT) AS chunk
       |  FROM ($evMs))
       |SELECT event_type, chunk, COUNT(*) AS n, min(ts_ms) AS start_ms,
       |  max(ts_ms) AS end_ms,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
       |FROM t GROUP BY event_type, chunk ORDER BY event_type, chunk""".stripMargin

  /** audio frequency display (ui/audiofrequencydisplay.py:46-48):
    * windowed FFT magnitudes binned into 8 bands, over each track's
    * first 256 samples (ordered by event time). Transcendental
    * twiddle factors make a cross-engine hash oracle unsound, so this
    * is a rows-only check; FftSpec verifies the kernel against a
    * naive DFT. */
  /** Quantized-twiddle DFT: the 256 cos/sin factors are computed ONCE
    * here (scale 2^10 keeps every partial product within Long: terms
    * ≤ 999·1024, |re| ≤ 2^28, mag² ≤ 2^57, bin energy ≤ 2^62) and
    * inlined as literals into BOTH the Spark plan and the oracle SQL
    * — so the whole spectrum is exact integer arithmetic, hash-equal
    * across engines, where true transcendental twiddles could differ
    * in the last ulp. The radix-2 float FFT kernel (functions/Fft)
    * remains the production kernel, spec-pinned against a naive DFT. */
  private val dftN = 256
  private val twCos: Seq[Long] = (0 until dftN).map(j =>
    math.round(math.cos(2 * math.Pi * j / dftN) * 1024))
  private val twSin: Seq[Long] = (0 until dftN).map(j =>
    math.round(math.sin(2 * math.Pi * j / dftN) * 1024))

  private def p05(s: SparkSession, d: String): DataFrame = {
    val twcA = array(twCos.map(lit): _*)
    val twsA = array(twSin.map(lit): _*)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    val samples = eventsMs(s, d)
      .select(col("event_type"), col("ts_ms"), col("event_id"),
        // signed bounded amplitude −1000..999 so every DFT partial
        // stays well inside Long (see scale analysis above)
        (pmod(floor(col("value") * 1000).cast(LongType), lit(2000L)) - 1000)
          .as("xq"))
      .withColumn("i", (row_number().over(w) - 1).cast(LongType))
      .filter(col("i") < dftN)
    val full = samples.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === dftN).select(col("event_type"))
    samples.join(broadcast(full), "event_type")
      .select(col("event_type"), col("i"), col("xq"),
        explode(sequence(lit(0L), lit(dftN - 1L))).as("k"))
      .withColumn("idx", ((col("i") * col("k")) % dftN + 1).cast("int"))
      .groupBy(col("event_type"), col("k"))
      .agg(sum(col("xq") * element_at(twcA, col("idx"))).as("re"),
        sum(col("xq") * element_at(twsA, col("idx"))).as("im"))
      .withColumn("mag2",
        col("re") * col("re") + col("im") * col("im"))
      .groupBy(col("event_type"), expr("k div 32").as("bin"))
      .agg(sum(col("mag2")).as("energy"))
      .orderBy(col("event_type"), col("bin"))
  }

  private val p05Sql =
    s"""WITH tw AS (SELECT [${twCos.mkString(", ")}] AS c,
       |                   [${twSin.mkString(", ")}] AS s),
       |e AS (SELECT event_type, epoch_ms(ts) AS tms, event_id,
       |    ((CAST(floor(value * 1000) AS BIGINT) % 2000) + 2000) % 2000 - 1000 AS xq
       |  FROM events),
       |r AS (SELECT event_type, xq,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY tms, event_id) - 1 AS BIGINT) AS i
       |  FROM e QUALIFY i < 256),
       |fl AS (SELECT event_type FROM r GROUP BY event_type
       |       HAVING count(*) = 256),
       |x AS (SELECT r.event_type, r.i, r.xq, unnest(range(0, 256)) AS k
       |      FROM r JOIN fl USING (event_type)),
       |t AS (SELECT event_type, k,
       |    CAST(sum(xq * tw.c[CAST((i * k) % 256 + 1 AS INT)]) AS BIGINT) AS re,
       |    CAST(sum(xq * tw.s[CAST((i * k) % 256 + 1 AS INT)]) AS BIGINT) AS im
       |  FROM x, tw GROUP BY event_type, k)
       |SELECT event_type, k // 32 AS bin,
       |  CAST(sum(re * re + im * im) AS BIGINT) AS energy
       |FROM t GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin

  /** padded audio chunker (media/util.py:150-171, used by the speech
    * enhancement tasks #37-38): overlapping chunks of 64 samples at a
    * 48-sample stride — sample i belongs to every chunk j with
    * j·48 ≤ i < j·48+64, so boundary samples land in two chunks (the
    * overlap the AudioSmoother crossfades). Per chunk: count, span,
    * exact sum, and how many of its samples overlap the next chunk. */
  private def p06(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    eventsMs(s, d)
      .select(col("event_type"), col("ts_ms"), col("event_id"), dec(col("value")).as("v"))
      .withColumn("i", (row_number().over(w) - 1).cast(LongType))
      .withColumn("chunk", explode(sequence(
        greatest(lit(0L), (((col("i") - 63) + 47) / 48).cast(LongType)), // ceil((i-63)/48)
        (col("i") / 48).cast(LongType))))
      .groupBy(col("event_type"), col("chunk"))
      .agg(count(lit(1)).as("n"),
        min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        sum(col("v")).cast(DoubleType).as("sum_v"),
        sum(when(col("i") >= (col("chunk") + 1) * 48, 1).otherwise(0))
          .as("overlap_next"))
      .orderBy(col("event_type"), col("chunk"))
  }

  private val p06Sql =
    s"""WITH t AS (SELECT event_type, ts_ms, value,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts_ms, event_id) - 1
       |         AS BIGINT) AS i
       |  FROM ($evMs)),
       |x AS (SELECT event_type, ts_ms, value, i,
       |    unnest(generate_series(greatest(0, (i - 63 + 47) // 48), i // 48)) AS chunk
       |  FROM t)
       |SELECT event_type, chunk, COUNT(*) AS n,
       |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v,
       |  CAST(SUM(CASE WHEN i >= (chunk + 1) * 48 THEN 1 ELSE 0 END) AS BIGINT) AS overlap_next
       |FROM x GROUP BY event_type, chunk ORDER BY event_type, chunk""".stripMargin

  /** G.711 μ-law codec (#27, functions/Codec.MuLaw) as oracle-checked
    * per-sample integer math: click values become signed 16-bit PCM
    * (scaled ×1000, sign alternating by event id), companded to 8-bit
    * μ-law and expanded back. The byte-array kernel is pinned to this
    * exact formulation over the full 16-bit domain by CodecSpec; here
    * the DuckDB oracle hash-checks encode AND decode end-to-end. */
  private def p07(s: SparkSession, d: String): DataFrame = {
    val pcm0 = (floor(col("value") * 1000).cast(LongType) *
      when(col("event_id") % 2 === 0, 1L).otherwise(-1L))
    val e = eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("event_id"),
        greatest(lit(-32768L), least(lit(32767L), pcm0)).as("pcm"))
    val ax = least(abs(col("pcm")), lit(32635L)) + 132L
    val ex = when(ax < 256, 0L).when(ax < 512, 1L).when(ax < 1024, 2L)
      .when(ax < 2048, 3L).when(ax < 4096, 4L).when(ax < 8192, 5L)
      .when(ax < 16384, 6L).otherwise(7L)
    val shiftDiv = when(ex === 0, 8L).when(ex === 1, 16L).when(ex === 2, 32L)
      .when(ex === 3, 64L).when(ex === 4, 128L).when(ex === 5, 256L)
      .when(ex === 6, 512L).otherwise(1024L) // 2^(e+3)
    val mant = (ax.cast(LongType) / shiftDiv).cast(LongType) % 16
    val sign = when(col("pcm") < 0, 128L).otherwise(0L)
    val withEnc = e.withColumn("enc", lit(255L) - (sign + ex * 16 + mant))
    val y = lit(255L) - col("enc")
    val de = (y.cast(LongType) / 16).cast(LongType) % 8
    val expMul = when(de === 0, 1L).when(de === 1, 2L).when(de === 2, 4L)
      .when(de === 3, 8L).when(de === 4, 16L).when(de === 5, 32L)
      .when(de === 6, 64L).otherwise(128L) // 2^e
    val mag = ((y % 16) * 8 + 132L) * expMul - 132L
    withEnc
      .withColumn("dec", when(y >= 128, -mag).otherwise(mag))
      .select(col("pipeline"), col("event_id"), col("pcm"), col("enc"),
        col("dec"))
      .orderBy(col("event_id"))
  }

  private val p07Sql =
    s"""WITH e AS (SELECT user_id % 2 AS pipeline, event_id,
       |  greatest(-32768, least(32767,
       |    CAST(floor(value * 1000) AS BIGINT)
       |      * (CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END))) AS pcm
       |  FROM ($evMs) WHERE event_type = 'click'),
       |s1 AS (SELECT *, least(abs(pcm), 32635) + 132 AS ax,
       |         CASE WHEN pcm < 0 THEN 128 ELSE 0 END AS sgn FROM e),
       |s2 AS (SELECT *,
       |         CASE WHEN ax < 256 THEN 0 WHEN ax < 512 THEN 1
       |              WHEN ax < 1024 THEN 2 WHEN ax < 2048 THEN 3
       |              WHEN ax < 4096 THEN 4 WHEN ax < 8192 THEN 5
       |              WHEN ax < 16384 THEN 6 ELSE 7 END AS ex FROM s1),
       |s3 AS (SELECT *,
       |         255 - (sgn + ex * 16 + (ax // (8 * (1 << ex))) % 16) AS enc
       |       FROM s2),
       |s4 AS (SELECT *, 255 - enc AS y FROM s3),
       |s5 AS (SELECT *, (y // 16) % 8 AS de, y % 16 AS dm FROM s4)
       |SELECT pipeline, event_id, pcm, enc,
       |  CASE WHEN y >= 128 THEN -((dm * 8 + 132) * (1 << de) - 132)
       |       ELSE (dm * 8 + 132) * (1 << de) - 132 END AS dec
       |FROM s5 ORDER BY event_id""".stripMargin

  /** Audio resampler (#25, media/audioresampler.py via
    * AudioKernel.stretchLinear): rational 3→2 rate conversion by
    * linear interpolation — the np.interp grid `pos = j·(n−1)/(m−1)`,
    * exact in IEEE doubles on both engines (only +,−,×,÷ on integers
    * < 2^53; no transcendentals). Samples are the per-pipeline click
    * values quantized to integers; CodecSpec pins
    * AudioKernel.stretchLinear to this formula on random arrays. */
  private def p08(s: SparkSession, d: String): DataFrame = {
    val e = eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"), floor(col("value") * 100).cast(DoubleType).as("v"))
    val iw = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    val samples = e.withColumn("i", row_number().over(iw).cast(LongType) - 1)
      .select(col("pipeline"), col("i"), col("v"))
    val counts = samples.groupBy(col("pipeline"))
      .agg(count(lit(1)).as("n"))
      .withColumn("m", (col("n") * 2 / 3).cast(LongType)) // 48k → 32k
      // m=1 would divide by zero in the grid position (Spark NaN vs a
      // DuckDB CAST error — the engines diverge); a 1-sample output
      // grid has no interpolation interval, so exclude degenerate
      // pipelines identically on both sides.
      .filter(col("m") >= 2)
    val grid = counts
      .select(col("pipeline"), col("n"), col("m"),
        explode(sequence(lit(0L), col("m") - 1)).as("j"))
      .withColumn("pos",
        col("j").cast(DoubleType) * (col("n") - 1) / (col("m") - 1))
      .withColumn("i0", least(col("n") - 2, floor(col("pos")).cast(LongType)))
      .withColumn("frac", col("pos") - col("i0"))
    val s0 = samples.select(col("pipeline").as("p0"), col("i").as("k0"),
      col("v").as("v0"))
    val s1 = samples.select(col("pipeline").as("p1"), col("i").as("k1"),
      col("v").as("v1"))
    grid
      .join(s0, col("pipeline") === col("p0") && col("i0") === col("k0"))
      .join(s1, col("pipeline") === col("p1") && col("i0") + 1 === col("k1"))
      .select(col("pipeline"), col("j"),
        (col("v0") * (lit(1.0) - col("frac")) + col("v1") * col("frac"))
          .as("resampled"))
      .orderBy(col("pipeline"), col("j"))
  }

  private val p08Sql =
    s"""WITH e AS (SELECT user_id % 2 AS pipeline, ts_ms, event_id,
       |    CAST(floor(value * 100) AS DOUBLE) AS v
       |  FROM ($evMs) WHERE event_type = 'click'),
       |samples AS (SELECT pipeline, v,
       |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS i
       |  FROM e),
       |counts AS (SELECT * FROM (
       |    SELECT pipeline, count(*) AS n, (count(*) * 2) // 3 AS m
       |    FROM samples GROUP BY pipeline) WHERE m >= 2),
       |grid0 AS (SELECT pipeline, n, m, unnest(range(0, m)) AS j FROM counts),
       |grid AS (SELECT *, CAST(j AS DOUBLE) * (n - 1) / (m - 1) AS pos
       |  FROM grid0),
       |gi AS (SELECT *, least(n - 2, CAST(floor(pos) AS BIGINT)) AS i0,
       |    pos - least(n - 2, CAST(floor(pos) AS BIGINT)) AS frac
       |  FROM grid)
       |SELECT g.pipeline, g.j,
       |  s0.v * (1.0 - g.frac) + s1.v * g.frac AS resampled
       |FROM gi g
       |JOIN samples s0 ON s0.pipeline = g.pipeline AND s0.i = g.i0
       |JOIN samples s1 ON s1.pipeline = g.pipeline AND s1.i = g.i0 + 1
       |ORDER BY g.pipeline, g.j""".stripMargin

  /** Speech-enhancement waveform path (#38) as a noise gate with
    * instant attack and linear release: the envelope opens to 1 the
    * sample |x| exceeds the threshold and decays linearly over 8
    * samples after the last loud one — `env = max(0, 1 − (i−last)/8)`,
    * a closed form over a running last-loud-index window (no
    * recursion, fully codegen'd; /8 is exact in doubles). The masked
    * chunk pipeline (p06 + AudioKernel.crossfade) covers the
    * overlapped-chunk shape; this covers the per-sample gain path. */
  private def p09(s: SparkSession, d: String): DataFrame = {
    val e = eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        (floor(col("value") * 100) *
          when(col("event_id") % 2 === 0, 1.0).otherwise(-1.0)).as("x"))
    val iw = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    val lw = Window.partitionBy(col("pipeline")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("i", row_number().over(iw).cast(LongType) - 1)
      .withColumn("last_loud",
        last(when(abs(col("x")) > 900, col("i")), ignoreNulls = true).over(lw))
      .withColumn("env",
        when(col("last_loud").isNull, 0.0)
          .otherwise(greatest(lit(0.0),
            lit(1.0) - (col("i") - col("last_loud")).cast(DoubleType) / 8.0)))
      .select(col("pipeline"), col("i"), col("x"), col("env"),
        (col("x") * col("env")).as("gated"))
      .orderBy(col("pipeline"), col("i"))
  }

  private val p09Sql =
    s"""WITH e AS (SELECT user_id % 2 AS pipeline, ts_ms, event_id,
       |    floor(value * 100) * (CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END) AS x
       |  FROM ($evMs) WHERE event_type = 'click'),
       |si AS (SELECT pipeline, x,
       |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS i
       |  FROM e),
       |le AS (SELECT *,
       |    last_value(CASE WHEN abs(x) > 900 THEN i END IGNORE NULLS) OVER (
       |      PARTITION BY pipeline ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_loud
       |  FROM si)
       |SELECT pipeline, i, x,
       |  CASE WHEN last_loud IS NULL THEN 0.0
       |       ELSE greatest(0.0, 1.0 - CAST(i - last_loud AS DOUBLE) / 8.0)
       |  END AS env,
       |  x * (CASE WHEN last_loud IS NULL THEN 0.0
       |       ELSE greatest(0.0, 1.0 - CAST(i - last_loud AS DOUBLE) / 8.0) END) AS gated
       |FROM le ORDER BY pipeline, i""".stripMargin

  /** p10: the REAL IMA ADPCM codec ([[graft.functions.Codec.ImaAdpcm]])
    * under the EXACT hash gate — the stateful step up from p07's
    * stateless μ-law. Each chunk (events keyed user_id%16, ordered by
    * (ts_ms, event_id), samples synthesized as a deterministic integer
    * hash of event_id) runs through encodeSamples→decodeSamples with
    * one codec state per chunk (the per-group codec mount); the DuckDB
    * oracle recomputes the identical decoded sequence INDEPENDENTLY
    * with a recursive CTE over the same IMA step/index tables — the
    * encoder's (predictor, step index) state machine, re-derived in
    * SQL the way e21's container CTE re-derives the mux action system.
    * Any drift in table values, clamp bounds, bit order, or the
    * encoder's decoder-tracking breaks the hash.
    *
    * Scale: one codec state per chunk key, folds distribute per group
    * — identical distribution story to the streaming machines. */
  private def p10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 16).as("chunk_id"), col("ts_ms"),
        col("event_id"),
        (col("event_id") * 2654435761L % 65536L - 32768L)
          .cast(IntegerType).as("pcm"))
      .as[(Long, Long, Long, Int)]
    KernelGroups.sortedKernel(e, "chunk_id") { (cid, rows) =>
        val xs = rows.map(_._4).toArray
        val packet = graft.functions.Codec.ImaAdpcm.encodeSamples(xs)
        val dec = graft.functions.Codec.ImaAdpcm.decodeSamples(packet, xs.length)
        dec.iterator.zipWithIndex.map { case (v, i) =>
          (cid, (i + 1).toLong, v.toLong) }
      }
      .toDF("chunk_id", "i", "dec")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val adpcmStepSql = graft.functions.Codec.ImaAdpcm.StepTable
    .mkString("[", ",", "]")

  private val p10Sql =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id % 16 AS chunk_id, epoch_ms(ts) AS ts_ms, event_id,
       |         CAST(event_id * 2654435761 % 65536 - 32768 AS INT) AS pcm
       |  FROM events WHERE event_type = 'click'),
       |c AS (SELECT chunk_id, list(pcm ORDER BY ts_ms, event_id) AS xs
       |      FROM e GROUP BY chunk_id),
       |rec AS (
       |  SELECT chunk_id, xs, 0 AS i, 0 AS pred, 0 AS idx, 0 AS dec FROM c
       |  UNION ALL
       |  SELECT chunk_id, xs, i + 1, np, ni, np FROM (
       |    SELECT chunk_id, xs, i, pred, idx,
       |      $adpcmStepSql[idx + 1] AS step,
       |      xs[i + 1] - pred AS d0,
       |      CASE WHEN d0 < 0 THEN -d0 ELSE d0 END AS a0,
       |      CASE WHEN a0 >= step THEN 1 ELSE 0 END AS b4,
       |      a0 - b4 * step AS a1,
       |      CASE WHEN a1 >= step // 2 THEN 1 ELSE 0 END AS b2,
       |      a1 - b2 * (step // 2) AS a2,
       |      CASE WHEN a2 >= step // 4 THEN 1 ELSE 0 END AS b1,
       |      step // 8 + b4 * step + b2 * (step // 2) + b1 * (step // 4)
       |        AS vpdiff,
       |      greatest(-32768, least(32767,
       |        CASE WHEN d0 < 0 THEN pred - vpdiff
       |             ELSE pred + vpdiff END)) AS np,
       |      greatest(0, least(88,
       |        idx + [-1,-1,-1,-1,2,4,6,8][b4 * 4 + b2 * 2 + b1 + 1])) AS ni
       |    FROM rec WHERE i < len(xs)))
       |SELECT chunk_id, CAST(i AS BIGINT) AS i, CAST(dec AS BIGINT) AS dec
       |FROM rec WHERE i > 0 ORDER BY chunk_id, i""".stripMargin

  /** p11: the MDCT TRANSFORM codec ([[graft.functions.Codec.Mdct]] —
    * lapped sine-window MDCT, per-block scalefactor, int8 coefficient
    * quantization: the frequency-domain lossy family AAC/Vorbis/CELT
    * share, next to p07's companding and p10's adaptive-differential)
    * under the oracle gate via the inverse-transcode SNR property —
    * m14's harness applied to audio, the reference's own codec-matrix
    * shape (tests/media/test_audio_codec.py:10-28). Each selected
    * event synthesizes a deterministic 1024-sample multi-tone chunk
    * (two integer-frequency sines seeded by chunk id — band-limited
    * on purpose: the property bounds reconstruction of in-band
    * content, not entropy); one codec instance per partition
    * (mapPartitions, the m03 mount — the 256 KB cosine table builds
    * once per task, not per chunk); the query emits the packet size
    * (STRUCTURAL: the oracle recomputes 8 + blocks·(N+1) bytes in SQL
    * arithmetic — a framing regression fails the hash) and the
    * SNR ≥ 25 dB verdict (a quantizer/window/overlap regression flips
    * it). Lossiness + TDAC exactness are CodecSpec's to pin. */
  private def p11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 1024
    eventsMs(s, d)
      .filter(col("event_type") === "view" && col("event_id") % 29 === 0)
      .select((col("user_id") % 2).as("pipeline"),
        col("event_id").as("chunk_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val codec = graft.functions.Codec.Mdct()
        it.map { case (p, cid) =>
          val raw = new Array[Byte](n * 2)
          val f1 = (cid % 7 + 2).toDouble
          val f2 = (cid % 11 + 5).toDouble
          var i = 0
          while (i < n) {
            val v = (9000 * math.sin(2 * math.Pi * f1 * i / 256.0) +
              6000 * math.sin(2 * math.Pi * f2 * i / 128.0)).toInt
            raw(2 * i) = (v & 0xff).toByte
            raw(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val packet = codec.encode(raw)
          val dec = codec.decode(packet)
          var sig = 0.0; var err = 0.0
          i = 0
          while (i < n) {
            val a = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff))
              .toShort.toDouble
            val b = ((dec(2 * i + 1) << 8) | (dec(2 * i) & 0xff))
              .toShort.toDouble
            sig += a * a; err += (a - b) * (a - b); i += 1
          }
          val snr = if (err == 0) 99.0 else 10.0 * math.log10(sig / err)
          (p, cid, packet.length.toLong, snr >= 25.0)
        }
      }
      .toDF("pipeline", "chunk_id", "packet_bytes", "snr_ok")
      .orderBy(col("pipeline"), col("chunk_id"))
  }

  private val p11Sql =
    """SELECT user_id % 2 AS pipeline, event_id AS chunk_id,
      |  CAST(8 + (1024 // 128 + 1) * 129 AS BIGINT) AS packet_bytes,
      |  true AS snr_ok
      |FROM events WHERE event_type = 'view' AND event_id % 29 = 0
      |ORDER BY pipeline, chunk_id""".stripMargin

  // ---- p12: audio fingerprint near-dup (constellation hashing) -------------
  /** Shazam-style audio fingerprinting (Wang 2003, "An Industrial-
    * Strength Audio Search Algorithm") as the AUDIO leg of the
    * near-dup family (next to m21's image dHash and d02's text LSH):
    *  1. frame the sample stream into 32-sample windows, 32-point
    *     integer DFT (p05's quantized-twiddle trick, ×1024) → exact
    *     Long magnitudes²;
    *  2. one spectral PEAK per frame (argmax bin 1..16; ties to the
    *     lower bin via the score = mag²·32 + (31−k) encoding — pure
    *     integer, identical in both engines);
    *  3. LANDMARK hashes pair each anchor peak with the peaks of the
    *     next 1..3 frames: hash = (binA·32 + binB)·4 + Δt — the
    *     combinatorial hashing of Wang §2.3 (amplitude-invariant, so
    *     a re-mastered copy fingerprints identically);
    *  4. hashes seen in more than 64 landmarks corpus-wide are
    *     dropped (the low-entropy buckets, d02's hot-bucket cap —
    *     this is what bounds candidate pairs at 100 TB: the join is
    *     Σ cap² per hash, never all-pairs);
    *  5. matching docs vote on their relative OFFSET (Wang §2.4's
    *     diagonal-histogram alignment): a true near-dup concentrates
    *     its votes at one offset, unrelated docs scatter.
    * The fixture plants real near-dups: docs 0..7 are event streams,
    * docs 8..15 the same streams delayed by 64 samples (2 frames) —
    * the verdict must find exactly the (d, d+8) pairs at offset 2.
    * Every stage is integer-exact, so the approximate matcher itself
    * sits under the DuckDB hash gate. Scale: fingerprints are ~3
    * Longs per 32 samples (a 10⁻¹ compression before any join);
    * per-hash candidates are capped; the offset vote is a count over
    * an equi-join — no distance computation anywhere. */
  private val fpTwCos: Seq[Long] = (0 until 32).map(j =>
    math.round(math.cos(2 * math.Pi * j / 32) * 1024))
  private val fpTwSin: Seq[Long] = (0 until 32).map(j =>
    math.round(math.sin(2 * math.Pi * j / 32) * 1024))
  private val FpShift = 64L   // copy delay: 2 frames
  private val FpHotCap = 64L  // hot-hash cap (d02's bucket-cap idea)
  private val FpMinVotes = 10L

  private def p12(s: SparkSession, d: String): DataFrame = {
    val twc = array(fpTwCos.map(lit): _*)
    val tws = array(fpTwSin.map(lit): _*)
    val w = Window.partitionBy(col("doc0")).orderBy(col("ts_ms"), col("event_id"))
    val base = eventsMs(s, d)
      .select((col("user_id") % 8).as("doc0"), col("ts_ms"), col("event_id"),
        (pmod(floor(col("value") * 1000).cast(LongType), lit(2000L)) - 1000)
          .as("xq"))
      .withColumn("i", (row_number().over(w) - 1).cast(LongType))
    val orig = base.select(col("doc0").as("doc"), col("i"), col("xq"))
    val copy = base.filter(col("i") >= FpShift)
      .select((col("doc0") + 8).as("doc"), (col("i") - FpShift).as("i"),
        col("xq"))
    val samples = orig.unionByName(copy)
    // complete frames only (the chunker discipline: partial tails drop)
    val nf = samples.groupBy(col("doc"))
      .agg((count(lit(1)) / 32).cast(LongType).as("nframes"))
    val framed = samples.join(nf, "doc")
      .withColumn("f", (col("i") / 32).cast(LongType))
      .filter(col("f") < col("nframes"))
      .withColumn("pos", col("i") % 32)
    val spec = framed
      .select(col("doc"), col("f"), col("pos"), col("xq"),
        explode(sequence(lit(1L), lit(16L))).as("k"))
      .withColumn("idx", ((col("pos") * col("k")) % 32 + 1).cast("int"))
      .groupBy(col("doc"), col("f"), col("k"))
      .agg(sum(col("xq") * element_at(twc, col("idx"))).as("re"),
        sum(col("xq") * element_at(tws, col("idx"))).as("im"))
      .select(col("doc"), col("f"), col("k"),
        (col("re") * col("re") + col("im") * col("im")).as("mag2"))
    val peaks = spec
      .groupBy(col("doc"), col("f"))
      .agg(max(col("mag2") * 32 + (lit(31) - col("k"))).as("score"))
      .select(col("doc"), col("f"), (lit(31) - col("score") % 32).as("bin"))
    val pa = peaks.select(col("doc"), col("f"), col("bin").as("bin_a"))
      .withColumn("dt", explode(array(lit(1L), lit(2L), lit(3L))))
    val pb = peaks.select(col("doc").as("doc_b"), col("f").as("f_b"),
      col("bin").as("bin_b"))
    val lm = pa.join(pb,
        col("doc") === col("doc_b") && col("f_b") === col("f") + col("dt"))
      .select(col("doc"), col("f"),
        ((col("bin_a") * 32 + col("bin_b")) * 4 + col("dt")).as("hash"))
    val hot = lm.groupBy(col("hash")).agg(count(lit(1)).as("n"))
      .filter(col("n") > FpHotCap).select(col("hash"))
    val fp = lm.join(broadcast(hot), Seq("hash"), "left_anti")
    val fpy = fp.select(col("hash").as("hash_y"), col("doc").as("doc_y"),
      col("f").as("f_y"))
    val votes = fp
      .join(fpy, col("hash") === col("hash_y") && col("doc") < col("doc_y"))
      .groupBy(col("doc").as("d1"), col("doc_y").as("d2"),
        (col("f") - col("f_y")).as("toff"))
      .agg(count(lit(1)).as("votes"))
    val bw = Window.partitionBy(col("d1"), col("d2"))
      .orderBy(col("votes").desc, col("toff"))
    votes.withColumn("rn", row_number().over(bw))
      .filter(col("rn") === 1 && col("votes") >= 2)
      .select(col("d1"), col("d2"), col("toff").as("best_offset"),
        col("votes"), (col("votes") >= FpMinVotes).as("is_dup"))
      .orderBy(col("d1"), col("d2"))
  }

  private val p12Sql =
    s"""WITH tw AS (SELECT [${fpTwCos.mkString(", ")}] AS c,
       |                  [${fpTwSin.mkString(", ")}] AS s),
       |e AS (SELECT user_id % 8 AS doc0, epoch_ms(ts) AS tms, event_id,
       |    ((CAST(floor(value * 1000) AS BIGINT) % 2000) + 2000) % 2000 - 1000 AS xq
       |  FROM events),
       |r AS (SELECT doc0, xq,
       |    CAST(row_number() OVER (PARTITION BY doc0
       |      ORDER BY tms, event_id) - 1 AS BIGINT) AS i
       |  FROM e),
       |samples AS (SELECT doc0 AS doc, i, xq FROM r
       |  UNION ALL
       |  SELECT doc0 + 8, i - $FpShift, xq FROM r WHERE i >= $FpShift),
       |nf AS (SELECT doc, count(*) // 32 AS nframes FROM samples GROUP BY doc),
       |framed AS (SELECT s.doc, s.i // 32 AS f, s.i % 32 AS pos, s.xq
       |  FROM samples s JOIN nf ON s.doc = nf.doc
       |  WHERE s.i // 32 < nf.nframes),
       |x AS (SELECT doc, f, pos, xq, unnest(range(1, 17)) AS k FROM framed),
       |spec AS (SELECT doc, f, k,
       |    CAST(sum(xq * tw.c[CAST((pos * k) % 32 + 1 AS INT)]) AS BIGINT) AS re,
       |    CAST(sum(xq * tw.s[CAST((pos * k) % 32 + 1 AS INT)]) AS BIGINT) AS im
       |  FROM x, tw GROUP BY doc, f, k),
       |peaks AS (SELECT doc, f,
       |    31 - max(32 * (re * re + im * im) + (31 - k)) % 32 AS bin
       |  FROM spec GROUP BY doc, f),
       |lm AS (SELECT a.doc, a.f,
       |    (a.bin * 32 + b.bin) * 4 + dtv.dt AS hash
       |  FROM peaks a
       |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS dt) dtv
       |  JOIN peaks b ON a.doc = b.doc AND b.f = a.f + dtv.dt),
       |hot AS (SELECT hash FROM lm GROUP BY hash HAVING count(*) > $FpHotCap),
       |fp AS (SELECT * FROM lm WHERE hash NOT IN (SELECT hash FROM hot)),
       |votes AS (SELECT x.doc AS d1, y.doc AS d2, x.f - y.f AS toff,
       |    count(*) AS votes
       |  FROM fp x JOIN fp y ON x.hash = y.hash AND x.doc < y.doc
       |  GROUP BY 1, 2, 3)
       |SELECT d1, d2, toff AS best_offset, votes,
       |  votes >= $FpMinVotes AS is_dup
       |FROM (SELECT *, row_number() OVER (PARTITION BY d1, d2
       |        ORDER BY votes DESC, toff) AS rn FROM votes)
       |WHERE rn = 1 AND votes >= 2
       |ORDER BY d1, d2""".stripMargin

  /** p13: the FLAC LOSSLESS codec ([[graft.sources.Flac]] — RFC 9639,
    * the reference matrix's `test_flac_audio_container` leg,
    * tests/media/test_containers.py:29) under the exact hash gate.
    * This is the entropy-coding member of the codec family: μ-law
    * companding (p07), ADPCM differential (p10), MDCT transform (p11),
    * and now prediction + Rice variable-length coding — the same
    * residual/Golomb machinery lossless (Shorten/ALAC/FLAC) and lossy
    * (CAVLC) codecs share.
    *
    * Each chunk (p10's keying: events user_id%16 ordered by
    * (ts_ms, event_id), hash-synthesized 16-bit PCM) encodes to a
    * complete .flac FILE — fLaC marker, STREAMINFO with the raw-sample
    * MD5, 256-sample frames, CRC-8/CRC-16 — then decodes back through
    * the full parser (both CRCs verified per frame). The gate is
    * two-sided: `lossless` proves decode∘encode = id AND the
    * STREAMINFO digest matches the raw samples; `file_bytes` is
    * recomputed INDEPENDENTLY by the DuckDB oracle from the spec
    * arithmetic — fixed-order selection (min Σ|residual|, ties low),
    * exact Rice cost minimization (k ∈ [0,14], ties small), subframe/
    * header/padding bit layout — so any drift in predictor choice,
    * rice parameter rule, header structure, or coded-number width
    * breaks the hash. The bit VALUES and CRCs are proven by the
    * decoder round trip (it rejects any CRC mismatch).
    *
    * Scale: one file per group key inside mapGroups — identical
    * executor-kernel story to the container families; bytes never
    * visit the driver. */
  private def p13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 16).as("chunk_id"), col("ts_ms"),
        col("event_id"),
        (col("event_id") * 2654435761L % 65536L - 32768L)
          .cast(IntegerType).as("pcm"))
      .as[(Long, Long, Long, Int)]
    KernelGroups.sortedKernel(e, "chunk_id") { (cid, rows) =>
        val xs = rows.map(_._4).toArray
        val bytes = graft.sources.Flac.encodeFile(Array(xs), 16000,
          blockSize = 256)
        val (si, dec) = graft.sources.Flac.decodeFile(bytes)
        val lossless = dec.length == 1 &&
          java.util.Arrays.equals(dec(0), xs) &&
          si.md5.sameElements(graft.sources.Flac.rawMd5(Array(xs))) &&
          si.totalSamples == xs.length.toLong
        Iterator.single((cid, xs.length.toLong,
          ((xs.length + 255) / 256).toLong, bytes.length.toLong, lossless))
      }
      .toDF("chunk_id", "n_samples", "n_frames", "file_bytes", "lossless")
      .orderBy(col("chunk_id"))
  }

  private val p13Sql =
    """WITH e AS (
      |  SELECT user_id % 16 AS chunk_id, epoch_ms(ts) AS ts_ms, event_id,
      |         CAST(event_id * 2654435761 % 65536 - 32768 AS BIGINT) AS pcm
      |  FROM events WHERE event_type = 'click'),
      |o AS (SELECT chunk_id, pcm,
      |        row_number() OVER (PARTITION BY chunk_id
      |                           ORDER BY ts_ms, event_id) - 1 AS rn
      |      FROM e),
      |f AS (SELECT chunk_id, rn // 256 AS frame, rn % 256 AS i, pcm FROM o),
      |lagd AS (SELECT chunk_id, frame, i, pcm,
      |        lag(pcm, 1) OVER w AS p1, lag(pcm, 2) OVER w AS p2
      |      FROM f WINDOW w AS (PARTITION BY chunk_id, frame ORDER BY i)),
      |res AS (SELECT chunk_id, frame, i, pcm AS r0, pcm - p1 AS r1,
      |        pcm - 2 * p1 + p2 AS r2 FROM lagd),
      |st AS (SELECT chunk_id, frame, count(*) AS n,
      |        min(r0) AS mn, max(r0) AS mx, sum(abs(r0)) AS c0,
      |        sum(abs(r1)) FILTER (i >= 1) AS c1,
      |        sum(abs(r2)) FILTER (i >= 2) AS c2
      |      FROM res GROUP BY 1, 2),
      |ord AS (SELECT chunk_id, frame, n, (mn = mx) AS const,
      |        CASE WHEN n >= 3 THEN
      |               CASE WHEN c0 <= c1 AND c0 <= c2 THEN 0
      |                    WHEN c1 <= c2 THEN 1 ELSE 2 END
      |             WHEN n = 2 THEN CASE WHEN c1 < c0 THEN 1 ELSE 0 END
      |             ELSE 0 END AS o
      |      FROM st),
      |zz AS (SELECT r.chunk_id, r.frame,
      |        CASE d.o WHEN 0 THEN r0 WHEN 1 THEN r1 ELSE r2 END AS rr
      |      FROM res r JOIN ord d USING (chunk_id, frame)
      |      WHERE NOT d.const AND r.i >= d.o),
      |kc AS (SELECT chunk_id, frame, k,
      |        sum(((CASE WHEN rr >= 0 THEN 2 * rr ELSE -2 * rr - 1 END)
      |             >> k) + 1 + k) AS bits
      |      FROM zz, (SELECT unnest(range(0, 15)) AS k) ks
      |      GROUP BY 1, 2, 3),
      |kbest AS (SELECT chunk_id, frame, bits FROM kc
      |      QUALIFY row_number() OVER (PARTITION BY chunk_id, frame
      |                                 ORDER BY bits, k) = 1),
      |fb AS (SELECT d.chunk_id, d.frame, d.n,
      |        (4 + CASE WHEN d.frame < 128 THEN 1
      |                  WHEN d.frame < 2048 THEN 2
      |                  WHEN d.frame < 65536 THEN 3 ELSE 4 END
      |           + CASE WHEN d.n IN (192, 256) THEN 0 ELSE 1 END + 1)
      |        + (CASE WHEN d.const THEN 24
      |                ELSE 18 + d.o * 16 + kb.bits END + 7) // 8
      |        + 2 AS fbytes
      |      FROM ord d LEFT JOIN kbest kb USING (chunk_id, frame))
      |SELECT chunk_id, CAST(sum(n) AS BIGINT) AS n_samples,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(42 + sum(fbytes) AS BIGINT) AS file_bytes,
      |  TRUE AS lossless
      |FROM fb GROUP BY chunk_id ORDER BY chunk_id""".stripMargin

  /** p14: the COMPOSED lossy audio bitstream ([[graft.functions.Gac]]
    * — p11's MDCT + AAC-style per-band scalefactor quantization +
    * p13's Rice entropy coder inside ADTS-shaped sync/CRC-16 frames:
    * the aac/opus structural analogue, closing the audio side of the
    * codec-composition seam the way m36 closes the video side). Same
    * harness as p11 (the reference's codec-matrix shape,
    * tests/media/test_audio_codec.py:10-28): deterministic two-tone
    * chunks, one codec instance per partition. The oracle pins the
    * STRUCTURE — frame count from the framing arithmetic, the
    * decoder-verified sync/CRC booleans (decode rejects any corrupt
    * frame, CodecSpec proves it), the ≥25 dB inverse-transcode SNR,
    * and the ENTROPY WIN: the Rice-coded stream must land strictly
    * below p11's fixed 8-bit coefficient layout on every chunk —
    * the property that makes the entropy stage worth its bits.
    * Exact coded sizes are data-dependent through double MDCT
    * coefficients, so they stay codec-side (unlike p13, whose
    * integer residuals let SQL recompute sizes exactly). */
  private def p14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 1024
    eventsMs(s, d)
      .filter(col("event_type") === "view" && col("event_id") % 31 === 0)
      .select((col("user_id") % 2).as("pipeline"),
        col("event_id").as("chunk_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val codec = graft.functions.Gac()
        it.map { case (p, cid) =>
          val raw = new Array[Byte](n * 2)
          val f1 = (cid % 7 + 2).toDouble
          val f2 = (cid % 11 + 5).toDouble
          var i = 0
          while (i < n) {
            val v = (9000 * math.sin(2 * math.Pi * f1 * i / 256.0) +
              6000 * math.sin(2 * math.Pi * f2 * i / 128.0)).toInt
            raw(2 * i) = (v & 0xff).toByte
            raw(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val packet = codec.encode(raw)
          // decode validates every frame's sync tag and CRC-16 — a
          // corrupt bitstream throws instead of returning
          val dec = codec.decode(packet)
          var sig = 0.0; var err = 0.0
          i = 0
          while (i < n) {
            val a = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff))
              .toShort.toDouble
            val b = ((dec(2 * i + 1) << 8) | (dec(2 * i) & 0xff))
              .toShort.toDouble
            sig += a * a; err += (a - b) * (a - b); i += 1
          }
          val snr = if (err == 0) 99.0 else 10.0 * math.log10(sig / err)
          val frames = (n / 128 + 1).toLong
          val fixedLayoutBytes = 8L + frames * 129L // p11's packet size
          (p, cid, frames, true, snr >= 25.0,
            packet.length < fixedLayoutBytes)
        }
      }
      .toDF("pipeline", "chunk_id", "frames", "sync_crc_ok", "snr_ok",
        "entropy_win")
      .orderBy(col("pipeline"), col("chunk_id"))
  }

  private val p14Sql =
    """SELECT user_id % 2 AS pipeline, event_id AS chunk_id,
      |  CAST(1024 // 128 + 1 AS BIGINT) AS frames,
      |  true AS sync_crc_ok, true AS snr_ok, true AS entropy_win
      |FROM events WHERE event_type = 'view' AND event_id % 31 = 0
      |ORDER BY pipeline, chunk_id""".stripMargin

  /** p15: REAL-FILE audio frame indexing ([[graft.sources.AudioIndex]]
    * — ADTS/AAC per ISO 13818-7 §6.2 and MPEG-1 Layer III per ISO
    * 11172-3 §2.4: syncwords, the spec's sampling-frequency and
    * bitrate TABLES, the self-delimiting length fields, 144·br/rate
    * (+padding) Layer III frame arithmetic), the audio counterpart of
    * m37's h264 indexing: what a 100 TB curation pipeline reads from
    * raw .aac/.mp3 — frame counts, offsets, rates, bitrate
    * histograms — without decoding a sample. Per chunk both streams
    * are written frame-by-frame, walked back by the parsers, and
    * every recovered field AND byte offset goes under the oracle,
    * which re-derives the table lookups and the cumulative length
    * sums in SQL. Scale: per-chunk mapGroups byte kernels, the
    * p13/m30 envelope. */
  private def p15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.AudioIndex
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(24, count)
      val adts = (0 until n).map { i =>
        AudioIndex.AdtsFrame(i % 4, i % 13, 1 + i % 7, i % 3 == 0,
          Array.tabulate(20 + (i * 7) % 50)(j => ((i * 31 + j) & 0xff).toByte))
      }
      val aidx = AudioIndex.adtsDemux(AudioIndex.adtsMux(adts))
      require(aidx.size == n, s"chunk $cid: adts index size drift")
      val mp3 = (0 until n).map { i =>
        AudioIndex.Mp3Frame(1 + i % 14, i % 3, i % 2 == 0, i % 4)
      }
      val midx = AudioIndex.mp3Demux(AudioIndex.mp3Mux(mp3))
      require(midx.size == n, s"chunk $cid: mp3 index size drift")
      aidx.iterator.zipWithIndex.map { case ((off, f), i) =>
        (cid, "adts", i.toLong, off, f.rate.toLong, f.profile.toLong,
          f.channels.toLong, f.frameLen.toLong)
      } ++ midx.iterator.zipWithIndex.map { case ((off, f), i) =>
        (cid, "mp3", i.toLong, off, f.rate.toLong,
          (f.bitrate / 1000).toLong, f.channelMode.toLong,
          f.frameLen.toLong)
      }
    }.toDF("chunk_id", "kind", "i", "offset", "rate", "p1", "p2",
        "frame_bytes")
      .orderBy(col("chunk_id"), col("kind"), col("i"))
  }

  private val p15Sql =
    s"""${clickCnt(24)}
      |f AS (SELECT chunk_id, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |adts AS (SELECT chunk_id, 'adts' AS kind, i,
      |    list_extract([96000,88200,64000,48000,44100,32000,24000,
      |                  22050,16000,12000,11025,8000,7350],
      |                 CAST(i % 13 AS INT) + 1) AS rate,
      |    i % 4 AS p1, 1 + i % 7 AS p2,
      |    (CASE WHEN i % 3 = 0 THEN 9 ELSE 7 END)
      |      + 20 + (i * 7) % 50 AS frame_bytes
      |  FROM f),
      |mp3 AS (SELECT chunk_id, 'mp3' AS kind, i,
      |    list_extract([44100,48000,32000], CAST(i % 3 AS INT) + 1) AS rate,
      |    list_extract([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320],
      |                 CAST(1 + i % 14 AS INT) + 1) AS p1,
      |    i % 4 AS p2,
      |    144 * list_extract([0,32,40,48,56,64,80,96,112,128,160,192,
      |                        224,256,320],
      |                       CAST(1 + i % 14 AS INT) + 1) * 1000
      |      // list_extract([44100,48000,32000], CAST(i % 3 AS INT) + 1)
      |      + (CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS frame_bytes
      |  FROM f),
      |u AS (SELECT * FROM adts UNION ALL SELECT * FROM mp3)
      |SELECT chunk_id, kind, CAST(i AS BIGINT) AS i,
      |  CAST(COALESCE(sum(frame_bytes) OVER (PARTITION BY chunk_id, kind
      |    ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS "offset",
      |  CAST(rate AS BIGINT) AS rate, CAST(p1 AS BIGINT) AS p1,
      |  CAST(p2 AS BIGINT) AS p2, CAST(frame_bytes AS BIGINT) AS frame_bytes
      |FROM u ORDER BY chunk_id, kind, i""".stripMargin

  /** p16: OPUS-IN-OGG indexing — RFC 6716 §3's TOC layer (coding
    * mode, bandwidth, the config→frame-duration table, the code
    * 0/1/2/3 frame-count rules incl. §3.2.1 length coding and the
    * 120 ms packet bound) carried in the engine's RFC 3533 Ogg pages
    * with the opus granule currency (cumulative samples at the 48 kHz
    * reference rate). Together with m37 (h264), m38 (vp8) and p15
    * (aac/mp3), every codec the reference's libav path names now has
    * a real-bitstream indexing layer. The oracle re-derives the §3.1
    * tables, the frame-count rules, and the granule running sum in
    * SQL. Scale: per-chunk mapGroups, the p13/p15 envelope. */
  private def p16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{AudioIndex, Ogg}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(24, count)
      var granule = 0L
      val packets = (0 until n).map { i =>
        val config = i % 32
        val code = i % 4
        val nf = code match {
          case 0 => 1
          case 3 => 1 + i % 2
          case _ => 2
        }
        val body = Array.tabulate(5 + i % 7)(j => ((i * 17 + j) & 0xff).toByte)
        val pkt = AudioIndex.opusPacket(config, i % 2 == 1, code,
          Seq.fill(nf)(body))
        val parsed = AudioIndex.opusParse(pkt)
        granule += parsed.samples48k
        Ogg.OggPacket(1L, granule, pkt)
      }
      val (_, rec) = Ogg.demux(Ogg.mux(
        Seq(Ogg.OggStream(1L, "opus")), packets))
      require(rec.size == n, s"chunk $cid: ogg packet count drift")
      rec.iterator.zipWithIndex.map { case (p, i) =>
        val op = AudioIndex.opusParse(p.payload)
        (cid, i.toLong, op.mode, op.bandwidth, op.stereo,
          op.code.toLong, op.frames.toLong, op.durUs, op.samples48k,
          p.granule)
      }
    }.toDF("chunk_id", "i", "mode", "bandwidth", "stereo", "code",
        "frames", "dur_us", "samples48k", "granule")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p16Sql =
    s"""${clickCnt(24)}
      |f AS (SELECT chunk_id, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |t AS (SELECT chunk_id, i, i % 32 AS cfg, i % 4 AS code,
      |    CASE i % 4 WHEN 0 THEN 1 WHEN 3 THEN 1 + i % 2 ELSE 2 END
      |      AS frames,
      |    CASE WHEN i % 32 < 12 THEN
      |           list_extract([10000, 20000, 40000, 60000],
      |             CAST(i % 32 AS INT) % 4 + 1)
      |         WHEN i % 32 < 16 THEN
      |           list_extract([10000, 20000],
      |             CAST(i % 32 - 12 AS INT) % 2 + 1)
      |         ELSE list_extract([2500, 5000, 10000, 20000],
      |             CAST(i % 32 - 16 AS INT) % 4 + 1) END AS fdur
      |  FROM f)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CASE WHEN cfg < 12 THEN 'silk' WHEN cfg < 16 THEN 'hybrid'
      |       ELSE 'celt' END AS mode,
      |  CASE WHEN cfg < 12 THEN
      |         list_extract(['nb', 'mb', 'wb'], CAST(cfg AS INT) // 4 + 1)
      |       WHEN cfg < 16 THEN
      |         list_extract(['swb', 'fb'], CAST(cfg - 12 AS INT) // 2 + 1)
      |       ELSE list_extract(['nb', 'wb', 'swb', 'fb'],
      |         CAST(cfg - 16 AS INT) // 4 + 1) END AS bandwidth,
      |  (i % 2 = 1) AS stereo,
      |  CAST(code AS BIGINT) AS code, CAST(frames AS BIGINT) AS frames,
      |  CAST(frames * fdur AS BIGINT) AS dur_us,
      |  CAST(frames * fdur * 48 // 1000 AS BIGINT) AS samples48k,
      |  CAST(sum(frames * fdur * 48 // 1000) OVER (PARTITION BY chunk_id
      |    ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS granule
      |FROM t ORDER BY chunk_id, i""".stripMargin

  /** p17: MPEG-1 LAYER II SUBBAND DECODE ([[graft.sources.Mp2]] —
    * ISO/IEC 11172-3 §2.4's subband payload under p15's header index:
    * bit allocation, scfsi scalefactor sharing, 6-bit scalefactors,
    * and the quantized codes with Layer II's radix GROUPING of 3/5/9-
    * level triplets into 5/7/10-bit codes), making composed .mp2-class
    * frames sample-decodable the way p13 made FLAC. Per chunk, 12
    * frames with deterministic allocations/scfsi/scalefactors/codes
    * are muxed into one stream (384 kbps @ 32 kHz → the 1728(+pad)-
    * byte frame arithmetic), demuxed, and every RECOVERED field goes
    * under the oracle: the offsets from the frame-length arithmetic,
    * the exact body bit budget (4-bit allocations + 2-bit scfsi +
    * 6·nsf scalefactors + granule bits incl. the grouped forms), the
    * stored-scalefactor count per scfsi pattern, and the scalefactor
    * and sample-code sums. The synthesis matrixing and dequant
    * conventions are pinned by Mp2Spec (cosine banks are not SQL
    * material). Scale: per-chunk mapGroups, the p15/p16 envelope. */
  private def p17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp2
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(12, count)
      val frames = (0 until n).map { i =>
        val subs = Array.tabulate(Mp2.Sblimit) { sb =>
          val q = (sb * 7 + i * 13) % 13
          if (q == 0) Mp2.Mp2Sub(0, 0, Array.empty, Array.empty)
          else {
            val scfsi = (sb + i) % 4
            val sf = Array.tabulate(Mp2.nsfStored(scfsi))(p =>
              (sb * 3 + i * 5 + p * 11) % 63)
            val l = Mp2.Levels(q)
            val samples = Array.tabulate(36)(gx =>
              (sb * 5 + (gx / 3) * 3 + (gx % 3) * 7 + i * 11) % l)
            Mp2.Mp2Sub(q, scfsi, sf, samples)
          }
        }
        Mp2.Mp2FrameData(bitrateIndex = 14, rateIndex = 2,
          padding = i % 2 == 1, subs)
      }
      val rec = Mp2.demux(Mp2.mux(frames))
      require(rec.size == n, s"chunk $cid: mp2 frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val alloc = f.subs.filter(_.q > 0)
        (cid, i.toLong, off, f.frameLen.toLong, f.bodyBits.toLong,
          alloc.length.toLong,
          alloc.map(s => Mp2.nsfStored(s.scfsi).toLong).sum,
          alloc.flatMap(_.sf).map(_.toLong).sum,
          alloc.flatMap(_.samples).map(_.toLong).sum)
      }
    }.toDF("chunk_id", "i", "offset", "frame_bytes", "body_bits",
        "n_alloc", "sf_count", "sf_sum", "code_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p17Sql =
    s"""${clickCnt(12)}
      |f AS (SELECT chunk_id, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sb AS (SELECT chunk_id, i, s.sb,
      |    (s.sb * 7 + i * 13) % 13 AS q,
      |    (s.sb + i) % 4 AS scfsi
      |  FROM f, (SELECT unnest(range(30)) AS sb) s),
      |sbl AS (SELECT *,
      |    CASE WHEN q = 0 THEN 0 ELSE
      |      list_extract([3,5,7,9,15,31,63,127,255,511,1023,2047],
      |        CAST(q AS INT)) END AS lv,
      |    CASE WHEN q = 0 THEN 0 WHEN scfsi = 0 THEN 3
      |         WHEN scfsi = 2 THEN 1 ELSE 2 END AS nsf
      |  FROM sb),
      |-- exact §2.4.2.4 bit budget: 4-bit allocation always; allocated
      |-- subbands add scfsi(2) + 6·nsf + 12 granules of grouped
      |-- (5/7/10) or 3·log2(L+1) bits
      |bits AS (SELECT chunk_id, i, sb, q, lv, nsf,
      |    CASE WHEN q = 0 THEN 4 ELSE 4 + 2 + 6 * nsf +
      |      12 * (CASE lv WHEN 3 THEN 5 WHEN 5 THEN 7 WHEN 9 THEN 10
      |            ELSE 3 * CAST(round(log2(lv + 1)) AS BIGINT) END)
      |    END AS b
      |  FROM sbl),
      |sfs AS (SELECT chunk_id, i,
      |    sum((sb * 3 + i * 5 + p.p * 11) % 63) AS sf_sum
      |  FROM sbl, (SELECT unnest(range(3)) AS p) p
      |  WHERE q > 0 AND p.p < nsf GROUP BY 1, 2),
      |codes AS (SELECT chunk_id, i,
      |    sum((sb * 5 + g.g * 3 + x.x * 7 + i * 11) % lv) AS code_sum
      |  FROM sbl, (SELECT unnest(range(12)) AS g) g,
      |    (SELECT unnest(range(3)) AS x) x
      |  WHERE q > 0 GROUP BY 1, 2),
      |agg AS (SELECT chunk_id, i,
      |    CAST(sum(b) AS BIGINT) AS body_bits,
      |    CAST(count(*) FILTER (q > 0) AS BIGINT) AS n_alloc,
      |    CAST(sum(nsf) AS BIGINT) AS sf_count
      |  FROM bits GROUP BY 1, 2)
      |SELECT a.chunk_id, CAST(a.i AS BIGINT) AS i,
      |  -- 384 kbps @ 32 kHz: 1728 B + the alternating padding byte
      |  CAST(1728 * a.i + a.i // 2 AS BIGINT) AS "offset",
      |  CAST(1728 + a.i % 2 AS BIGINT) AS frame_bytes,
      |  a.body_bits, a.n_alloc, a.sf_count,
      |  CAST(s.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(k.code_sum AS BIGINT) AS code_sum
      |FROM agg a
      |JOIN sfs s ON s.chunk_id = a.chunk_id AND s.i = a.i
      |JOIN codes k ON k.chunk_id = a.chunk_id AND k.i = a.i
      |ORDER BY a.chunk_id, a.i""".stripMargin

  /** p18: OGG-OPUS CONTINUITY AUDIT — the query a real curation
    * pipeline runs right after p16's index: per logical stream, does
    * the page granule ledger agree with the summed packet durations
    * (RFC 7845 §4.1: a granule jump beyond the decoded sample count
    * means lost data — a GAP a player must skip), is end trimming
    * confined to the final page (§4.5: a short final granule trims
    * trailing samples; anywhere else it is a mux bug), and how many
    * samples are actually playable after the ID header's pre-skip
    * (§4.2/§5.1: output = granule − pre_skip, floored at zero). The
    * stream is REAL RFC 7845 structure end-to-end: an OpusHead ID
    * header (version/channels/pre-skip/rate/gain parsed back and
    * validated), an OpusTags comment header, then TOC-coded packets
    * ([[graft.sources.AudioIndex.opusPacket]]) in RFC 3533 Ogg pages;
    * the audit recomputes everything from the DEMUXED bytes. Fixture
    * injects deterministic gaps (every 5th packet, never the last)
    * and a 57-sample final trim; the oracle replays the §3.1 duration
    * tables, the gap/trim ledger and the pre-skip floor in SQL.
    * Scale: per-chunk mapGroups, the p15/p16 envelope. */
  private def p18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{AudioIndex, Ogg}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(24, count)
      val preSkip = 312 + (cid % 100).toInt
      val head = AudioIndex.opusHeadMux(AudioIndex.OpusHead(
        channels = 1, preSkip = preSkip, inputRate = 48000L, gainQ8 = 0))
      val tags = AudioIndex.opusTagsMux("graft p18")
      var granule = 0L
      val data = (0 until n).map { i =>
        val config = i % 32
        val code = i % 4
        val nf = code match {
          case 0 => 1
          case 3 => 1 + i % 2
          case _ => 2
        }
        val body = Array.tabulate(5 + i % 7)(j =>
          ((i * 17 + j) & 0xff).toByte)
        val pkt = AudioIndex.opusPacket(config, i % 2 == 1, code,
          Seq.fill(nf)(body))
        val parsed = AudioIndex.opusParse(pkt)
        // a granule jump beyond the decoded samples = lost packets;
        // the final page granule is SHORT by the end-trim instead
        val gap = if (i % 5 == 3 && i < n - 1) i * 120L + 240L else 0L
        granule += parsed.samples48k + gap
        val g = if (i == n - 1) granule - 57L else granule
        Ogg.OggPacket(1L, g, pkt)
      }
      val packets = Ogg.OggPacket(1L, 0L, head) +:
        Ogg.OggPacket(1L, 0L, tags) +: data
      val (_, rec) = Ogg.demux(Ogg.mux(
        Seq(Ogg.OggStream(1L, "opus")), packets))
      require(rec.size == n + 2, s"chunk $cid: ogg packet count drift")
      // the audit reads ONLY demuxed bytes: headers validated and
      // parsed back, then the granule ledger recomputed per packet
      val gotHead = AudioIndex.opusHeadParse(rec.head.payload)
      require(gotHead.preSkip == preSkip && gotHead.channels == 1,
        s"chunk $cid: OpusHead drift through the pages")
      require(AudioIndex.opusTagsParse(rec(1).payload) == "graft p18",
        s"chunk $cid: OpusTags drift")
      var prevG = 0L
      rec.drop(2).iterator.zipWithIndex.map { case (p, i) =>
        val op = AudioIndex.opusParse(p.payload)
        val delta = p.granule - prevG - op.samples48k
        prevG = p.granule
        val gapS = math.max(delta, 0L)
        val trimS = math.max(-delta, 0L)
        (cid, i.toLong, op.samples48k, p.granule, gapS, trimS,
          trimS == 0L || i == n - 1,
          math.max(p.granule - gotHead.preSkip, 0L))
      }
    }.toDF("chunk_id", "i", "samples48k", "granule", "gap_samples",
        "trim_samples", "trim_legal", "net_playable")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p18Sql =
    s"""${clickCnt(24)}
      |f AS (SELECT chunk_id, n, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |t AS (SELECT chunk_id, n, i, i % 32 AS cfg,
      |    CASE i % 4 WHEN 0 THEN 1 WHEN 3 THEN 1 + i % 2 ELSE 2 END
      |      AS frames,
      |    CASE WHEN i % 32 < 12 THEN
      |           list_extract([10000, 20000, 40000, 60000],
      |             CAST(i % 32 AS INT) % 4 + 1)
      |         WHEN i % 32 < 16 THEN
      |           list_extract([10000, 20000],
      |             CAST(i % 32 - 12 AS INT) % 2 + 1)
      |         ELSE list_extract([2500, 5000, 10000, 20000],
      |             CAST(i % 32 - 16 AS INT) % 4 + 1) END AS fdur
      |  FROM f),
      |g AS (SELECT chunk_id, n, i, frames * fdur * 48 // 1000 AS s48,
      |    CASE WHEN i % 5 = 3 AND i < n - 1 THEN i * 120 + 240
      |         ELSE 0 END AS gap
      |  FROM t),
      |led AS (SELECT chunk_id, n, i, s48, gap,
      |    sum(s48 + gap) OVER (PARTITION BY chunk_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - CASE WHEN i = n - 1 THEN 57 ELSE 0 END AS granule
      |  FROM g),
      |d AS (SELECT chunk_id, n, i, s48, granule,
      |    granule - COALESCE(lag(granule) OVER (PARTITION BY chunk_id
      |      ORDER BY i), 0) - s48 AS delta
      |  FROM led)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST(s48 AS BIGINT) AS samples48k,
      |  CAST(granule AS BIGINT) AS granule,
      |  CAST(greatest(delta, 0) AS BIGINT) AS gap_samples,
      |  CAST(greatest(-delta, 0) AS BIGINT) AS trim_samples,
      |  (delta >= 0 OR i = n - 1) AS trim_legal,
      |  CAST(greatest(granule - (312 + chunk_id % 100), 0) AS BIGINT)
      |    AS net_playable
      |FROM d ORDER BY chunk_id, i""".stripMargin

  /** p19: MPEG-1 LAYER I DECODE ([[graft.sources.Mp2]] §2.4.1.5 Layer
    * I forms) — the FULLY CONFORMANT member of the 11172-3 family:
    * Layer I has no appendix allocation tables, so the whole bitstream
    * layer (plain 4-bit allocation per subband with the forbidden-15
    * guard, one 6-bit scalefactor per allocated subband, 12
    * sample-major (a+1)-bit codes excluding the all-ones word, 4-byte
    * slot frame arithmetic 4·(12·bitrate/rate + pad)) is exactly the
    * spec's — a real Layer I decoder parses these frames, the way m46
    * closes the same gap for H.264. Per chunk, 12 frames at 448 kbps /
    * 32 kHz mux→demux with every recovered field under the oracle:
    * offsets, the 672(+4)-byte lengths, the exact bit budget, and the
    * allocation/scalefactor/code sums. Matrixing/dequant pinned by
    * Mp2Spec (cosine banks are not SQL material). Scale: the p17
    * envelope — per-chunk mapGroups, bytes-proportional. */
  private def p19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp2
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(12, count)
      val frames = (0 until n).map { i =>
        val subs = Array.tabulate(32) { sb =>
          val a = (sb * 7 + i * 11) % 15
          if (a == 0) Mp2.Mp1Sub(0, 0, Array.empty)
          else {
            val lv = (1 << (a + 1)) - 1
            Mp2.Mp1Sub(a, (sb * 11 + i * 3) % 63,
              Array.tabulate(12)(g => (sb * 3 + g * 5 + i * 7) % lv))
          }
        }
        Mp2.Mp1FrameData(bitrateIndex = 14, rateIndex = 2,
          padding = i % 2 == 1, subs)
      }
      val rec = Mp2.demuxL1(Mp2.muxL1(frames))
      require(rec.size == n, s"chunk $cid: mp1 frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val alloc = f.subs.filter(_.a > 0)
        (cid, i.toLong, off, f.frameLen.toLong, f.bodyBits.toLong,
          alloc.length.toLong,
          alloc.map(_.sf.toLong).sum,
          alloc.flatMap(_.samples).map(_.toLong).sum)
      }
    }.toDF("chunk_id", "i", "offset", "frame_bytes", "body_bits",
        "n_alloc", "sf_sum", "code_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p19Sql =
    s"""${clickCnt(12)}
      |f AS (SELECT chunk_id, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sb AS (SELECT chunk_id, i, s.sb,
      |    (s.sb * 7 + i * 11) % 15 AS a
      |  FROM f, (SELECT unnest(range(32)) AS sb) s),
      |sbl AS (SELECT *,
      |    CASE WHEN a = 0 THEN 0
      |      ELSE CAST(power(2, a + 1) AS BIGINT) - 1 END AS lv
      |  FROM sb),
      |-- Layer I budget: 4-bit allocation always; allocated subbands
      |-- add one 6-bit scalefactor + 12 (a+1)-bit codes
      |agg AS (SELECT chunk_id, i,
      |    CAST(sum(CASE WHEN a = 0 THEN 4
      |      ELSE 4 + 6 + 12 * (a + 1) END) AS BIGINT) AS body_bits,
      |    CAST(count(*) FILTER (a > 0) AS BIGINT) AS n_alloc,
      |    CAST(sum(CASE WHEN a > 0
      |      THEN (sb * 11 + i * 3) % 63 END) AS BIGINT) AS sf_sum
      |  FROM sbl GROUP BY 1, 2),
      |codes AS (SELECT chunk_id, i,
      |    CAST(sum((sb * 3 + g.g * 5 + i * 7) % lv) AS BIGINT) AS code_sum
      |  FROM sbl, (SELECT unnest(range(12)) AS g) g
      |  WHERE a > 0 GROUP BY 1, 2)
      |SELECT a.chunk_id, CAST(a.i AS BIGINT) AS i,
      |  -- 448 kbps @ 32 kHz: 168 four-byte slots + alternating pad slot
      |  CAST(672 * a.i + 4 * (a.i // 2) AS BIGINT) AS "offset",
      |  CAST(672 + 4 * (a.i % 2) AS BIGINT) AS frame_bytes,
      |  a.body_bits, a.n_alloc, a.sf_sum, k.code_sum
      |FROM agg a
      |JOIN codes k ON k.chunk_id = a.chunk_id AND k.i = a.i
      |ORDER BY a.chunk_id, a.i""".stripMargin

  /** p20: MP2 SYNTHESIS WINDOWING (ISO/IEC 11172-3 §2.4.3.2) — the
    * filterbank stage past p17's matrixing stop: real Layer II frames
    * (only subband 0 allocated) mux→demux, then [[Mp2.Synth]] runs the
    * NORMATIVE structure per sample step — the 1024-entry V shift
    * register (shift 64, matrixing output in front), the V→U index
    * map, W = U·D windowing (512-tap stand-in window behind the
    * Table 3-B.3 seam) and the 16-term output sum. Because the input
    * is an impulse train on subband 0, each step's summed PCM and its
    * sample 0 are 16-tap convolutions of the code sequence with
    * constants derived from (Matrix column 0 × Window) —
    * [[Mp2.impulseKernels]], pinned by Mp2Spec against a brute Synth
    * run — and the oracle replays the convolution with those 2×16
    * constants embedded as literals (the cosine bank itself is not
    * SQL material, per the p17 precedent). Scale: the p17 envelope —
    * per-chunk mapGroups, a 1 KB register per stream, bytes-
    * proportional. */
  private def p20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp2
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(8, count)
      val frames = (0 until n).map { i =>
        val subs = Array.tabulate(Mp2.Sblimit) { sb =>
          if (sb != 0) Mp2.Mp2Sub(0, 0, Array.empty, Array.empty)
          else {
            val scfsi = i % 4
            val sf = Array.tabulate(Mp2.nsfStored(scfsi))(p =>
              (i * 5 + p * 11) % 63)
            // q = 5 → 15 levels, codes drawn like p17's sb = 0 row
            Mp2.Mp2Sub(5, scfsi, sf, Array.tabulate(36)(gx =>
              ((gx / 3) * 3 + (gx % 3) * 7 + i * 11) % 15))
          }
        }
        Mp2.Mp2FrameData(bitrateIndex = 14, rateIndex = 2,
          padding = i % 2 == 1, subs)
      }
      val rec = Mp2.demux(Mp2.mux(frames))
      require(rec.size == n, s"chunk $cid: mp2 frame count drift")
      val synth = new Mp2.Synth()
      val sVec = new Array[Int](32)
      rec.iterator.zipWithIndex.map { case ((_, f), i) =>
        require(f.subs(0).q == 5 && f.subs.drop(1).forall(_.q == 0),
          s"chunk $cid frame $i: allocation drift through the bits")
        var pcm = 0L
        var s0 = 0L
        var code = 0L
        var gx = 0
        while (gx < 36) {
          sVec(0) = f.subs(0).samples(gx)
          code += sVec(0)
          val out = synth.step(sVec)
          s0 += out(0)
          var j = 0
          while (j < 32) { pcm += out(j); j += 1 }
          gx += 1
        }
        (cid, i.toLong, code, pcm, s0)
      }
    }.toDF("chunk_id", "i", "code_sum", "pcm_sum", "s0_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p20Sql =
    s"""${clickCnt(8)}
      |f AS (SELECT chunk_id, g.i FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |-- subband-0 code per global step (36 per frame), the p17 draw
      |x AS (SELECT chunk_id, i, 36 * i + g.gx AS step,
      |    ((g.gx // 3) * 3 + (g.gx % 3) * 7 + i * 11) % 15 AS x
      |  FROM f, (SELECT unnest(range(36)) AS gx) g),
      |-- the 16-tap impulse kernels of (Matrix column 0 x Window),
      |-- Mp2.impulseKernels, pinned by Mp2Spec
      |kern AS (SELECT a.a,
      |    list_extract([-1558035, 270971, 2046024, -1509363, -1375811,
      |      457184, 1668559, -1128332, -451780, -830438, 556399,
      |      -765335, -258888, -610951, 254753, -456567],
      |      CAST(a.a + 1 AS INT)) AS ks,
      |    list_extract([-648760, -544495, 266455, 11585, -289625,
      |      567665, 625590, -347550, 69510, 208530, -486570, -706685,
      |      428645, -150605, -127435, 405475],
      |      CAST(a.a + 1 AS INT)) AS k0
      |  FROM (SELECT unnest(range(16)) AS a) a),
      |-- V register starts zeroed: lags before step 0 contribute 0
      |conv AS (SELECT cur.chunk_id, cur.i, cur.step,
      |    sum(lag.x * kern.ks) AS pcm,
      |    sum(lag.x * kern.k0) AS s0
      |  FROM x cur
      |  JOIN kern ON kern.a <= cur.step
      |  JOIN x lag ON lag.chunk_id = cur.chunk_id
      |    AND lag.step = cur.step - kern.a
      |  GROUP BY 1, 2, 3)
      |SELECT v.chunk_id, CAST(v.i AS BIGINT) AS i,
      |  CAST(sum(v.x) AS BIGINT) AS code_sum,
      |  CAST(sum(cv.pcm) AS BIGINT) AS pcm_sum,
      |  CAST(sum(cv.s0) AS BIGINT) AS s0_sum
      |FROM x v
      |JOIN conv cv ON cv.chunk_id = v.chunk_id AND cv.step = v.step
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** p21: MPEG-1 LAYER III STRUCTURAL DECODE ([[graft.sources.Mp3]],
    * ISO/IEC 11172-3 §2.4.2.7) — the decode leg under the .mp3 frames
    * p15 indexes: real composed frames mux→demux with the NORMATIVE
    * structure under the oracle — the 17-byte mono side info, the
    * §2.4.2.7 slen1/slen2 scalefactor widths with scfsi sharing of
    * granule 0's values into granule 1, the big_values REGION
    * partitioning by scalefactor-band offsets (stand-in i²+i → the
    * region boundaries are triangular numbers i(i+1)/2 in pairs),
    * per-value sign bits, the ESC+linbits mechanism on region 2's
    * tables, the count1 quadruple area consumed until part2_3_length
    * is EXACTLY exhausted (the spec's own consistency invariant,
    * verified loudly in demux), and the §2.4.3.4 requantization
    * x^(4/3)·2^((gain−210)/4) on the integer-exact regime (cube
    * magnitudes, 4-divisible gains → signed c⁴·2^e sums). The Huffman
    * TABLES are behind the [[graft.sources.Mp3.HuffSeam]] stand-in
    * (appendix data); everything the oracle replays — part2_3_length
    * bit budgets, region pair counts, code/sign/requant sums — is
    * structure. Scale: the p17 envelope — per-chunk mapGroups,
    * bytes-proportional, no shuffle inside a stream. */
  private def p21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp3
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val cubes = Array(0, 1, 8)
      val cubes2 = Array(0, 1, 8, 27)
      def granule(i: Int, gr: Int, g0: Option[Mp3.Granule],
          scfsi: Vector[Boolean]): Mp3.Granule = {
        val bv = 10 + (i * 7 + gr * 3) % 30
        val rc0 = (i + gr) % 6
        val rc1 = (i * 3 + gr) % 6
        val t0 = (i + gr) % 14
        val t1 = 1 + (i * 5 + gr) % 14
        val t2 = 18 + (i + gr) % 2
        val r0 = math.min(bv, (rc0 + 1) * (rc0 + 2) / 2)
        val r1 = math.min(bv,
          (rc0 + rc1 + 2) * (rc0 + rc1 + 3) / 2) - r0
        val pairs = Vector.tabulate(bv) { p =>
          def v(s2: Int): Int = {
            val idx = p * 2 + s2
            val m =
              if (p < r0 + r1) cubes((i * 5 + idx * 7 + gr * 11) % 3)
              else cubes2((i * 5 + idx * 7 + gr * 11) % 4)
            if (m != 0 && (idx + i) % 2 == 1) -m else m
          }
          (v(0), v(1))
        }
        val c1 = Vector.tabulate((i * 3 + gr) % 8) { q =>
          def cv(pos: Int): Int = ((i + q * 5 + pos * 3 + gr) % 3) - 1
          (cv(0), cv(1), cv(2), cv(3))
        }
        val sfc = (i + 2 * gr) % 16
        val (s1, s2) = Mp3.Slen(sfc)
        val sfs = Vector.tabulate(21) { band =>
          val shared = gr == 1 &&
            scfsi(Mp3.ScfsiBands.indexWhere(_.contains(band)))
          if (shared) g0.get.scalefacs(band)
          else {
            val len = if (band < 11) s1 else s2
            if (len > 0) (i * 3 + band * 5 + gr * 7) % (1 << len)
            else 0
          }
        }
        Mp3.Granule(pairs, c1, 210 + 4 * ((i + gr) % 10), sfc,
          (t0, t1, t2), rc0, rc1, preflag = (i + gr) % 2 == 0,
          scalefacScale = i % 2 == 1, scalefacs = sfs)
      }
      val frames = (0 until n).map { i =>
        val scfsi = Vector.tabulate(4)(b => (i + b) % 3 == 0)
        val g0 = granule(i, 0, None, scfsi)
        val g1 = granule(i, 1, Some(g0), scfsi)
        Mp3.Mp3FrameData(bitrateIndex = 14, rateIndex = 2,
          padding = i % 2 == 1, scfsi, Vector(g0, g1))
      }
      val rec = Mp3.demux(Mp3.mux(frames))
      require(rec.size == n, s"chunk $cid: mp3 frame count drift")
      rec.iterator.zipWithIndex.flatMap { case ((off, f), i) =>
        (0 until 2).iterator.map { gr =>
          val g = f.granules(gr)
          val (r0, r1, r2) = g.regionPairs
          val vals = g.bigValues.flatMap(p => Seq(p._1, p._2))
          val c1vals = g.count1.flatMap(q =>
            Seq(q._1, q._2, q._3, q._4))
          (cid, i.toLong, gr.toLong, off, f.frameLen.toLong,
            f.part23Length(gr).toLong, g.bigValues.length.toLong,
            r0.toLong, r1.toLong, r2.toLong,
            vals.map(v => math.abs(v).toLong).sum,
            c1vals.count(_ != 0).toLong,
            g.scalefacs.map(_.toLong).sum,
            vals.map(v => Mp3.requantExact(v, g.globalGain)).sum)
        }
      }
    }.toDF("chunk_id", "i", "gr", "offset", "frame_bytes", "part23",
        "big_values", "r0_pairs", "r1_pairs", "r2_pairs", "code_sum",
        "c1_nonzero", "sf_sum", "requant_sum")
      .orderBy(col("chunk_id"), col("i"), col("gr"))
  }

  private val p21Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i, gg.gr FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i),
      |  (SELECT unnest(range(2)) AS gr) gg),
      |-- side-info draws
      |side AS (SELECT chunk_id, i, gr,
      |    10 + (i * 7 + gr * 3) % 30 AS bv,
      |    (i + gr) % 6 AS rc0, (i * 3 + gr) % 6 AS rc1,
      |    18 + (i + gr) % 2 AS t2,
      |    (i + 2 * gr) % 16 AS sfc,
      |    210 + 4 * ((i + gr) % 10) AS gain,
      |    (i * 3 + gr) % 8 AS nq
      |  FROM f),
      |-- region boundaries: stand-in sfb offsets i*i+i → pair
      |-- boundaries are triangular numbers
      |reg AS (SELECT *,
      |    least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r0,
      |    least(bv, (rc0 + rc1 + 2) * (rc0 + rc1 + 3) // 2)
      |      - least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r1
      |  FROM side),
      |-- big-values draws: cube magnitudes, region 2 adds the ESC 27
      |bvv AS (SELECT r.chunk_id, r.i, r.gr, r.bv, r.r0, r.r1, r.t2,
      |    r.gain, v.idx,
      |    CASE WHEN v.idx // 2 < r.r0 + r.r1
      |      THEN list_extract([0, 1, 8],
      |        CAST((r.i * 5 + v.idx * 7 + r.gr * 11) % 3 + 1 AS INT))
      |      ELSE list_extract([0, 1, 8, 27],
      |        CAST((r.i * 5 + v.idx * 7 + r.gr * 11) % 4 + 1 AS INT))
      |    END AS m
      |  FROM reg r, (SELECT unnest(range(80)) AS idx) v
      |  WHERE v.idx < 2 * r.bv),
      |bvagg AS (SELECT chunk_id, i, gr,
      |    sum(m) AS code_sum,
      |    -- signed requant: sign · c^4 · 2^((gain-210)/4) with the
      |    -- cube roots of {0,1,8,27} being {0,1,2,3}
      |    sum((CASE WHEN m != 0 AND (idx + i) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (gain - 210) // 4) AS BIGINT)) AS requant_sum,
      |    -- part3 big-values bits: 4 per value + sign when nonzero +
      |    -- linbits (t2-14: 18→4, 19→5) on region-2 ESC (m >= 15)
      |    sum(4 + (CASE WHEN m != 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m >= 15 THEN t2 - 14 ELSE 0 END)) AS bv_bits
      |  FROM bvv GROUP BY 1, 2, 3),
      |-- count1 quadruples: values in {-1,0,1} from the kernel draw
      |c1 AS (SELECT s.chunk_id, s.i, s.gr,
      |    count(*) FILTER (q.q < s.nq
      |      AND ((s.i + q.q * 5 + p.pos * 3 + s.gr) % 3) != 1)
      |      AS c1_nonzero
      |  FROM side s, (SELECT unnest(range(8)) AS q) q,
      |    (SELECT unnest(range(4)) AS pos) p
      |  GROUP BY 1, 2, 3),
      |-- part2: slen widths from the §2.4.2.7 table, scfsi-shared
      |-- granule-1 bands store nothing
      |slen AS (SELECT s.chunk_id, s.i, s.gr, b.band,
      |    CASE WHEN b.band < 11
      |      THEN list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
      |        CAST(s.sfc + 1 AS INT))
      |      ELSE list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
      |        CAST(s.sfc + 1 AS INT)) END AS len,
      |    (s.i + (CASE WHEN b.band < 6 THEN 0 WHEN b.band < 11 THEN 1
      |      WHEN b.band < 16 THEN 2 ELSE 3 END)) % 3 = 0 AS shared0
      |  FROM side s, (SELECT unnest(range(21)) AS band) b),
      |p2 AS (SELECT chunk_id, i, gr,
      |    sum(CASE WHEN gr = 1 AND shared0 THEN 0 ELSE len END) AS p2bits
      |  FROM slen GROUP BY 1, 2, 3),
      |-- scalefactor sums: granule 1's shared bands take granule 0's
      |-- values (which use granule 0's slen widths)
      |sfv AS (SELECT l.chunk_id, l.i, l.gr, l.band,
      |    CASE WHEN l.gr = 1 AND l.shared0
      |      THEN (CASE WHEN l0.len > 0
      |        THEN (l.i * 3 + l.band * 5) % CAST(power(2, l0.len) AS BIGINT)
      |        ELSE 0 END)
      |      ELSE (CASE WHEN l.len > 0
      |        THEN (l.i * 3 + l.band * 5 + l.gr * 7)
      |          % CAST(power(2, l.len) AS BIGINT)
      |        ELSE 0 END) END AS sf
      |  FROM slen l
      |  JOIN slen l0 ON l0.chunk_id = l.chunk_id AND l0.i = l.i
      |    AND l0.gr = 0 AND l0.band = l.band),
      |sfs AS (SELECT chunk_id, i, gr, sum(sf) AS sf_sum
      |  FROM sfv GROUP BY 1, 2, 3)
      |SELECT s.chunk_id, CAST(s.i AS BIGINT) AS i,
      |  CAST(s.gr AS BIGINT) AS gr,
      |  -- 320 kbps @ 32 kHz: 1440 B + the alternating padding byte
      |  CAST(1440 * s.i + s.i // 2 AS BIGINT) AS "offset",
      |  CAST(1440 + s.i % 2 AS BIGINT) AS frame_bytes,
      |  CAST(p2.p2bits + a.bv_bits + s.nq * 4 + c1.c1_nonzero
      |    AS BIGINT) AS part23,
      |  CAST(s.bv AS BIGINT) AS big_values,
      |  CAST(s.r0 AS BIGINT) AS r0_pairs,
      |  CAST(s.r1 AS BIGINT) AS r1_pairs,
      |  CAST(s.bv - s.r0 - s.r1 AS BIGINT) AS r2_pairs,
      |  CAST(a.code_sum AS BIGINT) AS code_sum,
      |  CAST(c1.c1_nonzero AS BIGINT) AS c1_nonzero,
      |  CAST(sfs.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(a.requant_sum AS BIGINT) AS requant_sum
      |FROM reg s
      |JOIN bvagg a ON a.chunk_id = s.chunk_id AND a.i = s.i AND a.gr = s.gr
      |JOIN c1 ON c1.chunk_id = s.chunk_id AND c1.i = s.i AND c1.gr = s.gr
      |JOIN p2 ON p2.chunk_id = s.chunk_id AND p2.i = s.i AND p2.gr = s.gr
      |JOIN sfs ON sfs.chunk_id = s.chunk_id AND sfs.i = s.i
      |  AND sfs.gr = s.gr
      |ORDER BY s.chunk_id, s.i, s.gr""".stripMargin

  /** p22: MP3 BIT RESERVOIR ([[graft.sources.Mp3]] main_data_begin —
    * §2.4.2.7) — the layout every real encoder ships: a frame's main
    * data starts up to 511 bytes BEFORE its own header, inside
    * earlier frames' unused slot space. Small 48 kbps frames (216 B,
    * 195-byte slots) with draw-sized granules make the mechanics
    * engage for real: the lag grows frame over frame, clamps at the
    * field's 511-byte maximum (the clamp gap is ancillary data), and
    * most frames' data lives physically inside PRIOR frames. The
    * oracle replays the WHOLE layout from the part2_3 bit budgets —
    * main bytes, slot starts, the clamp recurrence via its
    * running-max identity (dataStart(i) = preMain(i) + max_k(base(k)
    * − preMain(k))), and main_data_begin per frame — next to the
    * recovered code sums (a decoder that mis-walks the reservoir
    * desyncs loudly on part2_3_length). Scale: the p17 envelope; a
    * streaming decoder needs a 511-byte window + the current slot. */
  private def p22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp3
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val frames = (0 until n)
        .map(i => Mp3Fixtures.reservoirFrame(i + cid.toInt * 7))
      val rec = Mp3.demuxReservoir(Mp3.muxReservoir(frames))
      require(rec.size == n, s"chunk $cid: mp3 frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, mdb, f), i) =>
        val want = frames(i)
        require(f.granules.map(_.bigValues) ==
          want.granules.map(_.bigValues),
          s"chunk $cid frame $i: reservoir walk drift")
        (cid, i.toLong, off, f.frameLen.toLong, mdb.toLong,
          ((f.bodyBits + 7) / 8).toLong, f.bodyBits.toLong,
          f.granules.iterator.flatMap(_.bigValues.iterator
            .flatMap(p => Seq(p._1, p._2)))
            .map(v => math.abs(v).toLong).sum)
      }
    }.toDF("chunk_id", "i", "offset", "frame_bytes", "mdb",
        "main_bytes", "part23", "code_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  /** The p22/e56 SHARED reservoir fixture: one 48 kbps mono Layer III
    * frame per chunk-salted index fi (= i + chunk·7) — frames small
    * enough (216 B, 195-byte slots) that the bit reservoir engages
    * for real. Both the batch walk (p22) and the streaming machine
    * (e56) decode exactly these bytes, so one oracle pins both. */
  private[operators] object Mp3Fixtures extends Serializable {
    def reservoirFrame(fi: Int): graft.sources.Mp3.Mp3FrameData = {
      import graft.sources.Mp3
      def granule(gr: Int, g0: Option[Mp3.Granule],
          scfsi: Vector[Boolean]): Mp3.Granule = {
        val bv = 5 + (fi * 7 + gr * 3) % 15
        val rc0 = (fi + gr) % 6
        val rc1 = (fi * 3 + gr) % 6
        val r0 = math.min(bv, (rc0 + 1) * (rc0 + 2) / 2)
        val r1 = math.min(bv,
          (rc0 + rc1 + 2) * (rc0 + rc1 + 3) / 2) - r0
        val cubes = Array(0, 1, 8)
        val cubes2 = Array(0, 1, 8, 27)
        val pairs = Vector.tabulate(bv) { p =>
          def v(s2: Int): Int = {
            val idx = p * 2 + s2
            val m = if (p < r0 + r1)
              cubes((fi * 5 + idx * 7 + gr * 11) % 3)
            else cubes2((fi * 5 + idx * 7 + gr * 11) % 4)
            if (m != 0 && (idx + fi) % 2 == 1) -m else m
          }
          (v(0), v(1))
        }
        val c1 = Vector.tabulate((fi * 3 + gr) % 8) { q =>
          def cv(pos: Int): Int =
            ((fi + q * 5 + pos * 3 + gr) % 3) - 1
          (cv(0), cv(1), cv(2), cv(3))
        }
        val sfc = (fi + 2 * gr) % 16
        val (s1, s2) = Mp3.Slen(sfc)
        val sfs = Vector.tabulate(21) { band =>
          val shared = gr == 1 &&
            scfsi(Mp3.ScfsiBands.indexWhere(_.contains(band)))
          if (shared) g0.get.scalefacs(band)
          else {
            val len = if (band < 11) s1 else s2
            if (len > 0) (fi * 3 + band * 5 + gr * 7) % (1 << len)
            else 0
          }
        }
        Mp3.Granule(pairs, c1, 210 + 4 * ((fi + gr) % 10), sfc,
          ((fi + gr) % 14, 1 + (fi * 5 + gr) % 14,
            18 + (fi + gr) % 2), rc0, rc1,
          preflag = (fi + gr) % 2 == 0,
          scalefacScale = fi % 2 == 1, scalefacs = sfs)
      }
      val scfsi = Vector.tabulate(4)(b => (fi + b) % 3 == 0)
      val g0 = granule(0, None, scfsi)
      graft.sources.Mp3.Mp3FrameData(3, 2, padding = fi % 2 == 1,
        scfsi, Vector(g0, granule(1, Some(g0), scfsi)))
    }
  }

  private val p22Sql =
    s"""${clickCnt(10)}
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
      |-- per-frame part2_3 bit and byte budgets
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
      |-- reservoir layout: 48 kbps @ 32 kHz → 216(+pad) B frames,
      |-- 195(+pad) B slots; dataStart via the running-max identity
      |-- of the 511-clamp recurrence
      |sz AS (SELECT chunk_id, i, fi, part23, code_sum,
      |    (part23 + 7) // 8 AS main_bytes,
      |    216 + fi % 2 AS frame_bytes,
      |    195 + fi % 2 AS slot
      |  FROM fb),
      |cumu AS (SELECT *,
      |    coalesce(sum(slot) OVER (PARTITION BY chunk_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS slot_start,
      |    coalesce(sum(main_bytes) OVER (PARTITION BY chunk_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS pre_main,
      |    coalesce(sum(frame_bytes) OVER (PARTITION BY chunk_id
      |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      1 PRECEDING), 0) AS "offset"
      |  FROM sz),
      |mx AS (SELECT *,
      |    max((CASE WHEN i = 0 THEN 0 ELSE slot_start - 511 END)
      |      - pre_main) OVER (PARTITION BY chunk_id ORDER BY i) AS amax
      |  FROM cumu)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST("offset" AS BIGINT) AS "offset",
      |  CAST(frame_bytes AS BIGINT) AS frame_bytes,
      |  CAST(slot_start - (pre_main + amax) AS BIGINT) AS mdb,
      |  CAST(main_bytes AS BIGINT) AS main_bytes,
      |  part23, code_sum
      |FROM mx ORDER BY chunk_id, i""".stripMargin

  /** p23: MP3 WINDOW SWITCHING ([[graft.sources.Mp3.BlockSplit]],
    * §2.4.1.7 / §2.4.3.4.5) — the block-structure layer real encoders
    * use at every transient, which p21's long-block subset rejected:
    * frames cycle block_type 2 short, 2 mixed, 1 start, 3 stop across
    * both granules; the 22-bit alternate side-info form round-trips
    * block_type/mixed_block_flag/subblock_gain; SHORT granules store
    * 12 bands × 3 windows = 36 scalefactors (MIXED: 8 long + 27 short
    * = 35) with scfsi pinned to zero; region boundaries are FIXED by
    * the switching form (18 pairs for pure short, 36 otherwise,
    * region 2 empty); and requantization applies the per-window gain
    * global_gain − 8·subblock_gain[w] where w comes from the
    * §2.4.3.4.5 reorder map over the stand-in short sfb offsets
    * (band b spans samples [3(b²+b), 3((b+1)²+(b+1))), window width
    * 2b+2; a mixed block's first 36 samples stay long-gained). The
    * oracle replays the layouts, the fixed boundaries, the window
    * map, and the exact-integer per-window requant sums. Scale: the
    * p17 envelope — per-chunk mapGroups, no shuffle inside a
    * stream. */
  private def p23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp3
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val regimes = Vector((2, false), (2, true), (1, false), (3, false))
      def granule(i: Int, gr: Int): Mp3.Granule = {
        val (bt, mixed) = regimes((i + gr) % 4)
        val bs = Mp3.BlockSplit(bt, mixed,
          ((i + gr) % 4, (i * 3 + gr) % 4, (i + 2 * gr) % 4))
        val bv = 10 + (i * 7 + gr * 3) % 30
        val boundary = if (bt == 2 && !mixed) 18 else 36
        val r0 = math.min(bv, boundary)
        val cubes = Array(0, 1, 8)
        val cubes2 = Array(0, 1, 8, 27)
        val pairs = Vector.tabulate(bv) { p =>
          def v(s2: Int): Int = {
            val idx = p * 2 + s2
            val m = if (p < r0) cubes((i * 5 + idx * 7 + gr * 11) % 3)
              else cubes2((i * 5 + idx * 7 + gr * 11) % 4)
            if (m != 0 && (idx + i) % 2 == 1) -m else m
          }
          (v(0), v(1))
        }
        val sfc = (i + 2 * gr) % 16
        val (s1, s2) = Mp3.Slen(sfc)
        val nSf = if (bt != 2) 21 else if (mixed) 35 else 36
        val sfs = Vector.tabulate(nSf) { slot =>
          val isS1 = if (bt != 2) slot < 11
            else if (mixed) slot < 17 else slot < 18
          val len = if (isS1) s1 else s2
          if (len > 0) (i * 3 + slot * 5 + gr * 7) % (1 << len) else 0
        }
        Mp3.Granule(pairs, Vector.empty, 234 + 4 * ((i + gr) % 6),
          sfc, ((i + gr) % 14, 18 + (i * 5 + gr) % 2, 0), 0, 0,
          preflag = false, scalefacScale = i % 2 == 1,
          scalefacs = sfs, blockSplit = Some(bs))
      }
      val frames = (0 until n).map { i =>
        Mp3.Mp3FrameData(14, 2, padding = i % 2 == 1,
          Vector.fill(4)(false),
          Vector(granule(i, 0), granule(i, 1)))
      }
      val rec = Mp3.demux(Mp3.mux(frames))
      require(rec.size == n, s"chunk $cid: mp3 frame count drift")
      rec.iterator.zipWithIndex.flatMap { case ((off, f), i) =>
        (0 until 2).iterator.map { gr =>
          val g = f.granules(gr)
          val bs = g.blockSplit.get
          val (r0, r1, r2) = g.regionPairs
          require(r2 == 0, "window switching leaves region 2 empty")
          val vals = g.bigValues.flatMap(p => Seq(p._1, p._2))
          val requant = vals.zipWithIndex.map { case (v, j) =>
            val gain =
              if (bs.blockType != 2) g.globalGain
              else if (bs.mixed && j < 36) g.globalGain
              else g.globalGain - 8 * bs.sbg(Mp3.shortWindow(j, bs.mixed))
            Mp3.requantExact(v, gain)
          }.sum
          (cid, i.toLong, gr.toLong, off,
            bs.blockType.toLong, if (bs.mixed) 1L else 0L,
            f.part23Length(gr).toLong, g.bigValues.length.toLong,
            r0.toLong, r1.toLong,
            g.scalefacs.map(_.toLong).sum,
            (bs.subblockGain._1 + bs.subblockGain._2 +
              bs.subblockGain._3).toLong,
            vals.map(v => math.abs(v).toLong).sum, requant)
        }
      }
    }.toDF("chunk_id", "i", "gr", "offset", "block_type", "mixed_flag",
        "part23", "big_values", "r0_pairs", "r1_pairs", "sf_sum",
        "sbg_sum", "code_sum", "requant_sum")
      .orderBy(col("chunk_id"), col("i"), col("gr"))
  }

  private val p23Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i, gg.gr FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i),
      |  (SELECT unnest(range(2)) AS gr) gg),
      |side AS (SELECT chunk_id, i, gr,
      |    list_extract([2, 2, 1, 3], CAST((i + gr) % 4 + 1 AS INT)) AS bt,
      |    (i + gr) % 4 = 1 AS mixed,
      |    10 + (i * 7 + gr * 3) % 30 AS bv,
      |    18 + (i * 5 + gr) % 2 AS t1,
      |    (i + 2 * gr) % 16 AS sfc,
      |    234 + 4 * ((i + gr) % 6) AS gain,
      |    (i + gr) % 4 AS sbg0, (i * 3 + gr) % 4 AS sbg1,
      |    (i + 2 * gr) % 4 AS sbg2
      |  FROM f),
      |reg AS (SELECT *,
      |    least(bv, CASE WHEN bt = 2 AND NOT mixed THEN 18 ELSE 36 END)
      |      AS r0
      |  FROM side),
      |-- per-sample draws + the §2.4.3.4.5 reorder window: band b
      |-- spans [3(b²+b), 3((b+1)²+(b+1))) with window width 2b+2
      |bvv AS (SELECT r.chunk_id, r.i, r.gr, v.idx,
      |    CASE WHEN v.idx // 2 < r.r0
      |      THEN list_extract([0, 1, 8],
      |        CAST((r.i * 5 + v.idx * 7 + r.gr * 11) % 3 + 1 AS INT))
      |      ELSE list_extract([0, 1, 8, 27],
      |        CAST((r.i * 5 + v.idx * 7 + r.gr * 11) % 4 + 1 AS INT))
      |    END AS m,
      |    r.t1, r.gain
      |      - CASE WHEN r.bt != 2 OR (r.mixed AND v.idx < 36) THEN 0
      |        ELSE 8 * list_extract([r.sbg0, r.sbg1, r.sbg2],
      |          CAST((v.idx - 3 * (b.b * b.b + b.b))
      |            // (2 * b.b + 2) + 1 AS INT)) END AS geff
      |  FROM reg r
      |  JOIN (SELECT unnest(range(80)) AS idx) v ON v.idx < 2 * r.bv
      |  JOIN (SELECT unnest(range(6)) AS b) b
      |    ON v.idx >= 3 * (b.b * b.b + b.b)
      |    AND v.idx < 3 * ((b.b + 1) * (b.b + 1) + b.b + 1)),
      |bvagg AS (SELECT chunk_id, i, gr,
      |    sum(m) AS code_sum,
      |    sum((CASE WHEN m != 0 AND (idx + i) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (geff - 210) // 4) AS BIGINT)) AS requant_sum,
      |    sum(4 + (CASE WHEN m != 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m >= 15 THEN t1 - 14 ELSE 0 END)) AS p3bits
      |  FROM bvv GROUP BY 1, 2, 3),
      |-- scalefactor slots per regime: 21 long / 36 short / 35 mixed,
      |-- slen1 for the first 11 / 18 / 17 slots
      |sfv AS (SELECT s.chunk_id, s.i, s.gr,
      |    CASE WHEN (CASE WHEN s.bt != 2 THEN sl.slot < 11
      |        WHEN s.mixed THEN sl.slot < 17
      |        ELSE sl.slot < 18 END)
      |      THEN list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
      |        CAST(s.sfc + 1 AS INT))
      |      ELSE list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
      |        CAST(s.sfc + 1 AS INT)) END AS len,
      |    sl.slot
      |  FROM side s
      |  JOIN (SELECT unnest(range(36)) AS slot) sl
      |    ON sl.slot < (CASE WHEN s.bt != 2 THEN 21
      |      WHEN s.mixed THEN 35 ELSE 36 END)),
      |sfs AS (SELECT chunk_id, i, gr,
      |    sum(CASE WHEN len > 0
      |      THEN (i * 3 + slot * 5 + gr * 7)
      |        % CAST(power(2, len) AS BIGINT) ELSE 0 END) AS sf_sum,
      |    sum(len) AS p2bits
      |  FROM sfv GROUP BY 1, 2, 3)
      |SELECT s.chunk_id, CAST(s.i AS BIGINT) AS i,
      |  CAST(s.gr AS BIGINT) AS gr,
      |  CAST(1440 * s.i + s.i // 2 AS BIGINT) AS "offset",
      |  CAST(s.bt AS BIGINT) AS block_type,
      |  CAST(CASE WHEN s.mixed THEN 1 ELSE 0 END AS BIGINT) AS mixed_flag,
      |  CAST(sfs.p2bits + a.p3bits AS BIGINT) AS part23,
      |  CAST(s.bv AS BIGINT) AS big_values,
      |  CAST(s.r0 AS BIGINT) AS r0_pairs,
      |  CAST(s.bv - s.r0 AS BIGINT) AS r1_pairs,
      |  CAST(sfs.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(s.sbg0 + s.sbg1 + s.sbg2 AS BIGINT) AS sbg_sum,
      |  CAST(a.code_sum AS BIGINT) AS code_sum,
      |  CAST(a.requant_sum AS BIGINT) AS requant_sum
      |FROM reg s
      |JOIN bvagg a ON a.chunk_id = s.chunk_id AND a.i = s.i AND a.gr = s.gr
      |JOIN sfs ON sfs.chunk_id = s.chunk_id AND sfs.i = s.i
      |  AND sfs.gr = s.gr
      |ORDER BY s.chunk_id, s.i, s.gr""".stripMargin

  /** p24: MP3 STEREO ([[graft.sources.Mp3.Mp3StereoFrame]], §2.4.1.3
    * mode/mode_extension + §2.4.3.4.9 joint-stereo processing) — the
    * channel dimension p21–p23's mono subset rejected, and the way
    * almost every real MP3 ships (joint stereo): frames cycle plain
    * stereo, MS, intensity, MS+intensity; the 32-byte two-channel
    * side info round-trips gr-major channel-minor with per-channel
    * part2_3_length verified exactly; MS reconstruction is checked on
    * the √2-scaled exact-integer form via Σ|m+s|+|m−s| over the
    * sample-aligned channel pair (nonlinear — a misaligned channel
    * interleave desyncs it); intensity positions ride the right
    * channel's scalefactors above its zero_part ([[Mp3.intensityBound]])
    * on the exact tan(is_pos·π/12) grid {0, 3, 6} → all-right /
    * halves / all-left routing of the left channel's requantized
    * spectrum. The oracle replays layouts, bit budgets, the bound,
    * and both stereo reconstructions. Scale: the p17 envelope —
    * per-chunk mapGroups, no shuffle inside a stream. */
  private def p24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp3
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val modes = Vector((0, 0), (1, 2), (1, 1), (1, 3))
      def granule(i: Int, gr: Int, ch: Int, ext: Int): Mp3.Granule = {
        val isCh = ch == 1 && (ext & 1) == 1
        val bv = if (isCh) 4 + (i * 5 + gr) % 8
          else 10 + (i * 7 + gr * 3 + ch * 5) % 30
        val rc0 = (i + gr + ch) % 6
        val rc1 = (i * 3 + gr + ch) % 6
        val r0 = math.min(bv, (rc0 + 1) * (rc0 + 2) / 2)
        val r1 = math.min(bv,
          (rc0 + rc1 + 2) * (rc0 + rc1 + 3) / 2) - r0
        val cubes = Array(0, 1, 8); val cubes2 = Array(0, 1, 8, 27)
        val pairs = Vector.tabulate(bv) { p =>
          def v(s2: Int): Int = {
            val idx = p * 2 + s2
            var m = if (p < r0 + r1)
              cubes((i * 5 + idx * 7 + gr * 11 + ch * 13) % 3)
            else cubes2((i * 5 + idx * 7 + gr * 11 + ch * 13) % 4)
            if (idx == 2 * bv - 1 && m == 0) m = 1 // zero_part edge
            if (m != 0 && (idx + i + ch) % 2 == 1) -m else m
          }
          (v(0), v(1))
        }
        val sfc = if (isCh) 13 else (i + 2 * gr + ch) % 16
        val (s1, s2) = Mp3.Slen(sfc)
        val sfs = Vector.tabulate(21) { band =>
          val len = if (band < 11) s1 else s2
          if (isCh) Array(0, 3, 6)((i + band) % 3)
          else if (len > 0) (i * 3 + band * 5 + gr * 7 + ch) % (1 << len)
          else 0
        }
        Mp3.Granule(pairs, Vector.empty, 214 + 4 * ((i + gr + ch) % 7),
          sfc, ((i + gr + ch) % 14, 1 + (i * 5 + gr + ch) % 14,
            18 + (i + gr + ch) % 2), rc0, rc1,
          preflag = false, scalefacScale = false, scalefacs = sfs)
      }
      val frames = (0 until n).map { i =>
        val (mode, ext) = modes(i % 4)
        Mp3.Mp3StereoFrame(14, 2, padding = i % 2 == 1, mode, ext,
          Vector.fill(2)(Vector.fill(4)(false)),
          Vector.tabulate(2)(gr =>
            Vector.tabulate(2)(ch => granule(i, gr, ch, ext))))
      }
      val rec = Mp3.demuxStereo(Mp3.muxStereo(frames))
      require(rec.size == n, s"chunk $cid: stereo frame count drift")
      rec.iterator.zipWithIndex.flatMap { case ((off, f), i) =>
        (0 until 2).iterator.map { gr =>
          val g0 = f.granules(gr)(0); val g1 = f.granules(gr)(1)
          def xr(g: Mp3.Granule, j: Int): Long = {
            val vals = g.bigValues
            if (j >= 2 * vals.length) 0L
            else {
              val p = vals(j / 2)
              Mp3.requantExact(if (j % 2 == 0) p._1 else p._2,
                g.globalGain)
            }
          }
          val maxJ = 2 * math.max(g0.bigValues.length,
            g1.bigValues.length)
          val bound = if ((f.modeExt & 1) == 1) Mp3.intensityBound(g1)
            else 22
          val isStart = if (bound <= 21) Mp3.SfbOffsets(bound)
            else Int.MaxValue
          val msAbs = if ((f.modeExt & 2) == 2)
            (0 until math.min(maxJ, isStart)).map { j =>
              val (l, r) = Mp3.msScaled(xr(g0, j), xr(g1, j))
              math.abs(l) + math.abs(r)
            }.sum
          else 0L
          val (isL, isR) = if ((f.modeExt & 1) == 1) {
            val sums = (isStart until 2 * g0.bigValues.length).map { j =>
              val band = (0 until 21).find(b =>
                j < Mp3.SfbOffsets(b + 1)).getOrElse(21)
              Mp3.intensityExact(xr(g0, j), g1.scalefacs(band))
            }
            (sums.map(_._1).sum, sums.map(_._2).sum)
          } else (0L, 0L)
          (cid, i.toLong, gr.toLong, off, f.mode.toLong,
            f.modeExt.toLong,
            g0.bigValues.length.toLong, g1.bigValues.length.toLong,
            f.part23Length(gr, 0).toLong, f.part23Length(gr, 1).toLong,
            g0.scalefacs.map(_.toLong).sum,
            g1.scalefacs.map(_.toLong).sum,
            g0.bigValues.map(p => math.abs(p._1).toLong +
              math.abs(p._2)).sum,
            g1.bigValues.map(p => math.abs(p._1).toLong +
              math.abs(p._2)).sum,
            bound.toLong, msAbs, isL, isR)
        }
      }
    }.toDF("chunk_id", "i", "gr", "offset", "mode", "mode_ext",
        "bv0", "bv1", "part23_0", "part23_1", "sf_sum0", "sf_sum1",
        "code_sum0", "code_sum1", "is_bound", "ms_abs_sum",
        "is_left_sum", "is_right_sum")
      .orderBy(col("chunk_id"), col("i"), col("gr"))
  }

  private val p24Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i, gg.gr,
      |    list_extract([0, 1, 1, 1], CAST(g.i % 4 + 1 AS INT)) AS mode,
      |    list_extract([0, 2, 1, 3], CAST(g.i % 4 + 1 AS INT)) AS ext
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i),
      |  (SELECT unnest(range(2)) AS gr) gg),
      |side AS (SELECT f.*, ch.ch,
      |    ch.ch = 1 AND (f.ext & 1) = 1 AS isch,
      |    CASE WHEN ch.ch = 1 AND (f.ext & 1) = 1
      |      THEN 4 + (i * 5 + gr) % 8
      |      ELSE 10 + (i * 7 + gr * 3 + ch.ch * 5) % 30 END AS bv,
      |    (i + gr + ch.ch) % 6 AS rc0,
      |    (i * 3 + gr + ch.ch) % 6 AS rc1,
      |    18 + (i + gr + ch.ch) % 2 AS t2,
      |    214 + 4 * ((i + gr + ch.ch) % 7) AS gain,
      |    CASE WHEN ch.ch = 1 AND (f.ext & 1) = 1 THEN 13
      |      ELSE (i + 2 * gr + ch.ch) % 16 END AS sfc
      |  FROM f, (SELECT unnest(range(2)) AS ch) ch),
      |reg AS (SELECT *,
      |    least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r0,
      |    least(bv, (rc0 + rc1 + 2) * (rc0 + rc1 + 3) // 2)
      |      - least(bv, (rc0 + 1) * (rc0 + 2) // 2) AS r1
      |  FROM side),
      |-- per-sample values: cube draws, the zero_part pin on the last
      |-- coded sample, sign, and the exact requant c⁴·2^((gain−210)/4)
      |vals AS (SELECT r.chunk_id, r.i, r.gr, r.ch, r.t2, v.j,
      |    v.j < 2 * r.bv AS coded,
      |    CASE WHEN v.j >= 2 * r.bv THEN 0
      |      WHEN v.j = 2 * r.bv - 1 AND (CASE WHEN v.j // 2 < r.r0 + r.r1
      |        THEN list_extract([0, 1, 8],
      |          CAST((r.i * 5 + v.j * 7 + r.gr * 11 + r.ch * 13) % 3
      |            + 1 AS INT))
      |        ELSE list_extract([0, 1, 8, 27],
      |          CAST((r.i * 5 + v.j * 7 + r.gr * 11 + r.ch * 13) % 4
      |            + 1 AS INT)) END) = 0 THEN 1
      |      ELSE (CASE WHEN v.j // 2 < r.r0 + r.r1
      |        THEN list_extract([0, 1, 8],
      |          CAST((r.i * 5 + v.j * 7 + r.gr * 11 + r.ch * 13) % 3
      |            + 1 AS INT))
      |        ELSE list_extract([0, 1, 8, 27],
      |          CAST((r.i * 5 + v.j * 7 + r.gr * 11 + r.ch * 13) % 4
      |            + 1 AS INT)) END) END AS m,
      |    r.gain FROM reg r, (SELECT unnest(range(80)) AS j) v),
      |xrs AS (SELECT *,
      |    (CASE WHEN m != 0 AND (j + i + ch) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (gain - 210) // 4) AS BIGINT) AS xr
      |  FROM vals),
      |aggch AS (SELECT chunk_id, i, gr, ch,
      |    sum(CASE WHEN coded THEN m ELSE 0 END) AS code_sum,
      |    sum(CASE WHEN coded THEN 4 + (CASE WHEN m != 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN m >= 15 THEN t2 - 14 ELSE 0 END)
      |      ELSE 0 END) AS p3bits
      |  FROM xrs GROUP BY 1, 2, 3, 4),
      |slen AS (SELECT s.chunk_id, s.i, s.gr, s.ch, s.isch, b.band,
      |    CASE WHEN b.band < 11
      |      THEN list_extract([0,0,0,0,3,1,1,1,2,2,2,3,3,3,4,4],
      |        CAST(s.sfc + 1 AS INT))
      |      ELSE list_extract([0,1,2,3,0,1,2,3,1,2,3,1,2,3,2,3],
      |        CAST(s.sfc + 1 AS INT)) END AS len
      |  FROM side s, (SELECT unnest(range(21)) AS band) b),
      |p2 AS (SELECT chunk_id, i, gr, ch,
      |    sum(len) AS p2bits,
      |    sum(CASE WHEN isch
      |      THEN list_extract([0, 3, 6], CAST((i + band) % 3 + 1 AS INT))
      |      WHEN len > 0
      |      THEN (i * 3 + band * 5 + gr * 7 + ch)
      |        % CAST(power(2, len) AS BIGINT)
      |      ELSE 0 END) AS sf_sum
      |  FROM slen GROUP BY 1, 2, 3, 4),
      |-- intensity bound: the last right-channel sample is pinned
      |-- nonzero, so zero_part starts at 2·bv1 exactly
      |bnd AS (SELECT s.chunk_id, s.i, s.gr, s.bv AS bv1,
      |    CASE WHEN (s.ext & 1) = 1
      |      THEN (SELECT min(b.b) FROM (SELECT unnest(range(22)) AS b) b
      |        WHERE b.b * b.b + b.b >= 2 * s.bv)
      |      ELSE 22 END AS bound
      |  FROM side s WHERE s.ch = 1),
      |-- sample-aligned channel pair for the stereo reconstructions
      |pair AS (SELECT a.chunk_id, a.i, a.gr, a.j, a.xr AS xr0,
      |    b.xr AS xr1, f.ext, bnd.bound,
      |    bnd.bound * bnd.bound + bnd.bound AS is_start
      |  FROM xrs a
      |  JOIN xrs b ON b.chunk_id = a.chunk_id AND b.i = a.i
      |    AND b.gr = a.gr AND b.j = a.j AND b.ch = 1
      |  JOIN f ON f.chunk_id = a.chunk_id AND f.i = a.i AND f.gr = a.gr
      |  JOIN bnd ON bnd.chunk_id = a.chunk_id AND bnd.i = a.i
      |    AND bnd.gr = a.gr
      |  WHERE a.ch = 0),
      |ms AS (SELECT chunk_id, i, gr,
      |    sum(CASE WHEN (ext & 2) = 2
      |      AND ((ext & 1) = 0 OR j < is_start)
      |      THEN abs(xr0 + xr1) + abs(xr0 - xr1) ELSE 0 END) AS ms_abs
      |  FROM pair GROUP BY 1, 2, 3),
      |-- intensity routing of the left spectrum above the bound:
      |-- is_pos per long band from the right channel's scalefactors
      |iss AS (SELECT p.chunk_id, p.i, p.gr,
      |    sum(CASE list_extract([0, 3, 6],
      |        CAST((p.i + bb.b) % 3 + 1 AS INT))
      |      WHEN 0 THEN 0 WHEN 3 THEN p.xr0 // 2 ELSE p.xr0 END) AS is_l,
      |    sum(CASE list_extract([0, 3, 6],
      |        CAST((p.i + bb.b) % 3 + 1 AS INT))
      |      WHEN 0 THEN p.xr0 WHEN 3 THEN p.xr0 // 2 ELSE 0 END) AS is_r
      |  FROM pair p
      |  JOIN (SELECT unnest(range(21)) AS b) bb
      |    ON p.j >= bb.b * bb.b + bb.b
      |    AND p.j < (bb.b + 1) * (bb.b + 1) + bb.b + 1
      |  JOIN reg s0 ON s0.chunk_id = p.chunk_id AND s0.i = p.i
      |    AND s0.gr = p.gr AND s0.ch = 0
      |  WHERE (p.ext & 1) = 1 AND p.j >= p.is_start
      |    AND p.j < 2 * s0.bv
      |  GROUP BY 1, 2, 3)
      |SELECT f.chunk_id, CAST(f.i AS BIGINT) AS i,
      |  CAST(f.gr AS BIGINT) AS gr,
      |  CAST(1440 * f.i + f.i // 2 AS BIGINT) AS "offset",
      |  CAST(f.mode AS BIGINT) AS mode,
      |  CAST(f.ext AS BIGINT) AS mode_ext,
      |  CAST(s0.bv AS BIGINT) AS bv0, CAST(s1.bv AS BIGINT) AS bv1,
      |  CAST(p20.p2bits + a0.p3bits AS BIGINT) AS part23_0,
      |  CAST(p21x.p2bits + a1.p3bits AS BIGINT) AS part23_1,
      |  CAST(p20.sf_sum AS BIGINT) AS sf_sum0,
      |  CAST(p21x.sf_sum AS BIGINT) AS sf_sum1,
      |  CAST(a0.code_sum AS BIGINT) AS code_sum0,
      |  CAST(a1.code_sum AS BIGINT) AS code_sum1,
      |  CAST(bnd.bound AS BIGINT) AS is_bound,
      |  CAST(ms.ms_abs AS BIGINT) AS ms_abs_sum,
      |  CAST(coalesce(iss.is_l, 0) AS BIGINT) AS is_left_sum,
      |  CAST(coalesce(iss.is_r, 0) AS BIGINT) AS is_right_sum
      |FROM f
      |JOIN side s0 ON s0.chunk_id = f.chunk_id AND s0.i = f.i
      |  AND s0.gr = f.gr AND s0.ch = 0
      |JOIN side s1 ON s1.chunk_id = f.chunk_id AND s1.i = f.i
      |  AND s1.gr = f.gr AND s1.ch = 1
      |JOIN aggch a0 ON a0.chunk_id = f.chunk_id AND a0.i = f.i
      |  AND a0.gr = f.gr AND a0.ch = 0
      |JOIN aggch a1 ON a1.chunk_id = f.chunk_id AND a1.i = f.i
      |  AND a1.gr = f.gr AND a1.ch = 1
      |JOIN p2 p20 ON p20.chunk_id = f.chunk_id AND p20.i = f.i
      |  AND p20.gr = f.gr AND p20.ch = 0
      |JOIN p2 p21x ON p21x.chunk_id = f.chunk_id AND p21x.i = f.i
      |  AND p21x.gr = f.gr AND p21x.ch = 1
      |JOIN bnd ON bnd.chunk_id = f.chunk_id AND bnd.i = f.i
      |  AND bnd.gr = f.gr
      |JOIN ms ON ms.chunk_id = f.chunk_id AND ms.i = f.i
      |  AND ms.gr = f.gr
      |LEFT JOIN iss ON iss.chunk_id = f.chunk_id AND iss.i = f.i
      |  AND iss.gr = f.gr
      |ORDER BY f.chunk_id, f.i, f.gr""".stripMargin

  /** p25: AAC-LC STRUCTURAL DECODE ([[graft.sources.Aac]], ISO/IEC
    * 13818-7 §6.3) — the raw_data_block layer under p15's ADTS
    * framing, for the reference's DEFAULT audio codec: frames cycle
    * the four window sequences (ONLY_LONG, EIGHT_SHORT with real
    * grouping bits, LONG_START, LONG_STOP); each carries an SCE whose
    * ics_info/section/scalefactor/TNS/spectral syntax round-trips
    * through ADTS mux → demux → demuxSce under the oracle. The oracle
    * replays the §6.3.2 window-group count from the grouping bits
    * (8 − popcount), the section layout, the DPCM scalefactor
    * accumulation from global_gain (group-invariant by the D = 0
    * fixture: short-frame deltas alternate ±4), the Table 7.1
    * tuple/sign/escape bit budget down to the ADTS frame byte length
    * and cumulative offsets, and the §9.2 exact requant
    * c⁴·2^((sf−100)/4). The per-sfb value draws ride a cross-group
    * running counter, so every aggregate is independent of the
    * grouping draw — what the grouping changes (G, payload bits) is
    * pinned separately. Scale: the p17 envelope — per-chunk
    * mapGroups, no shuffle inside a stream. */
  private def p25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Aac, AudioIndex}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      def mags(cb: Int): Array[Int] =
        if (cb >= 11) Array(0, 1, 8, 27)
        else if (cb >= 9) Array(0, 1, 8)
        else Array(0, 1)
      def sce(i: Int): Aac.AacIcs = {
        val ws = Array(0, 2, 1, 3)(i % 4)
        val short = ws == 2
        val maxSfb = if (short) 4 else 6 + i % 3
        val grouping = if (short) (i * 37) % 128 else 0
        val info = Aac.IcsInfo(ws, i % 2, maxSfb, grouping)
        val cycleL = Array(1, 3, 5, 7, 9, 11, 6, 0)
        val cycleS = Array(3, 9, 11, 5)
        def cb(w: Int): Int =
          if (short) cycleS((i + w) % 4) else cycleL((i + w) % 8)
        val groups = info.groupLens
        val sections = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(w =>
            Aac.Section(cb(w), w, w + 1)))
        def dpcmOf(w: Int): Int =
          if (short) (if (w % 2 == 0) 4 else -4)
          else 4 * (((i + w) % 3) - 1)
        val dpcm = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.filter(cb(_) != 0).map(dpcmOf))
        val counters = scala.collection.mutable.Map[Int, Int]()
        val spectral = groups.indices.toVector.map { gi =>
          (0 until maxSfb).toVector.map { w =>
            if (cb(w) == 0) Vector.empty[Int]
            else Vector.fill(info.sfbWidth(w, groups(gi))) {
              val t = counters.getOrElse(w, 0); counters(w) = t + 1
              val a = mags(cb(w))
              val m = a((i * 5 + w * 11 + t * 7) % a.length)
              if (m != 0 && (t + i) % 2 == 1) -m else m
            }
          }
        }
        val tns = if (!short && i % 2 == 0) Some(Vector(
          Aac.TnsFilter((i / 2) % 2, (i * 7) % 20, i % 4, i % 2, 0,
            Vector.tabulate(i % 4)(j =>
              (i + j * 3) % (1 << ((i / 2) % 2 + 3))))))
        else None
        Aac.AacIcs(132 + 4 * (i % 5), info, sections, dpcm, tns,
          spectral)
      }
      val adts = AudioIndex.adtsMux((0 until n).map(i =>
        AudioIndex.AdtsFrame(1, 4, 1, crcPresent = false,
          Aac.muxSce(sce(i)))))
      val rec = AudioIndex.adtsDemux(adts)
      require(rec.size == n, s"chunk $cid: adts frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val (_, ics) = Aac.demuxSce(f.payload)
        val sfs = ics.scalefactors
        val sfSum = sfs.flatten.flatten.map(_.toLong).sum
        val vals = ics.spectral.flatten.flatten
        val codeSum = vals.map(v => math.abs(v).toLong).sum
        val escCount = vals.count(v => math.abs(v) >= 16).toLong
        // requant: sf is per (group, sfb); values pair with their
        // group's scalefactor
        val requant = ics.info.groupLens.indices.map { gi =>
          (0 until ics.info.maxSfb).map { w =>
            ics.spectral(gi)(w).map(v =>
              Aac.requantExact(v, sfs(gi)(w).get)).sum
          }.sum
        }.sum
        val tnsOrder = ics.tns.map(_.map(_.order.toLong).sum)
          .getOrElse(0L)
        (cid, i.toLong, off, ics.info.windowSequence.toLong,
          ics.info.groupLens.length.toLong,
          ics.info.maxSfb.toLong, f.payload.length.toLong,
          sfSum, tnsOrder, codeSum, escCount, requant)
      }
    }.toDF("chunk_id", "i", "offset", "window_seq", "num_groups",
        "max_sfb", "payload_bytes", "sf_sum", "tns_order", "code_sum",
        "esc_count", "requant_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p25Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 2, 1, 3], CAST(g.i % 4 + 1 AS INT)) AS ws,
      |    g.i % 4 = 1 AS short,
      |    CASE WHEN g.i % 4 = 1 THEN 4 ELSE 6 + g.i % 3 END AS max_sfb,
      |    CASE WHEN g.i % 4 = 1
      |      THEN 8 - bit_count(CAST((g.i * 37) % 128 AS BIGINT))
      |      ELSE 1 END AS ng,
      |    132 + 4 * (g.i % 5) AS gg
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |-- per-sfb codebook + dpcm draw
      |sfb AS (SELECT f.*, w.w,
      |    CASE WHEN f.short
      |      THEN list_extract([3, 9, 11, 5], CAST((f.i + w.w) % 4 + 1 AS INT))
      |      ELSE list_extract([1, 3, 5, 7, 9, 11, 6, 0],
      |        CAST((f.i + w.w) % 8 + 1 AS INT)) END AS cb,
      |    CASE WHEN f.short
      |      THEN (CASE WHEN w.w % 2 = 0 THEN 4 ELSE -4 END)
      |      ELSE 4 * (((f.i + w.w) % 3) - 1) END AS dpcm,
      |    CASE WHEN f.short THEN 8 * (4 * w.w + 4)
      |      ELSE 4 * w.w + 4 END AS nvals
      |  FROM f JOIN (SELECT unnest(range(12)) AS w) w
      |    ON w.w < f.max_sfb),
      |-- scalefactors: DPCM prefix over CODED sfbs (group-invariant:
      |-- the short fixture's deltas alternate +4/−4, D = 0)
      |sf AS (SELECT *,
      |    gg + sum(CASE WHEN cb != 0 THEN dpcm ELSE 0 END)
      |      OVER (PARTITION BY chunk_id, i ORDER BY w) AS sfv
      |  FROM sfb),
      |-- spectral values: cross-group running counter t per sfb
      |vals AS (SELECT s.chunk_id, s.i, s.w, s.cb, s.sfv, t.t,
      |    CASE WHEN s.cb >= 11 THEN list_extract([0, 1, 8, 27],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7) % 4 + 1 AS INT))
      |      WHEN s.cb >= 9 THEN list_extract([0, 1, 8],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7) % 3 + 1 AS INT))
      |      ELSE list_extract([0, 1],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7) % 2 + 1 AS INT))
      |    END AS m
      |  FROM sf s JOIN (SELECT unnest(range(320)) AS t) t
      |    ON t.t < s.nvals
      |  WHERE s.cb != 0),
      |vagg AS (SELECT chunk_id, i,
      |    sum(m) AS code_sum,
      |    sum(CASE WHEN m >= 16 THEN 1 ELSE 0 END) AS esc_count,
      |    sum((CASE WHEN m != 0 AND (t + i) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (sfv - 100) // 4) AS BIGINT)) AS requant_sum,
      |    -- spectral bits: field width per cb, sign bits on the
      |    -- unsigned codebooks, the cb 11 escape (27 → '0'+4 bits)
      |    sum(CASE WHEN cb = 1 THEN 2 WHEN cb = 3 THEN 2
      |        WHEN cb IN (5, 6) THEN 4 WHEN cb = 7 THEN 3
      |        WHEN cb = 9 THEN 4 ELSE 5 END
      |      + CASE WHEN cb IN (1, 5, 6) THEN 0
      |        WHEN m != 0 THEN 1 ELSE 0 END
      |      + CASE WHEN cb = 11 AND m >= 16 THEN 5 ELSE 0 END) AS sbits
      |  FROM vals GROUP BY 1, 2),
      |sfagg AS (SELECT chunk_id, i,
      |    max(ng) * sum(CASE WHEN cb != 0 THEN sfv ELSE 0 END) AS sf_sum,
      |    sum(CASE WHEN cb != 0 THEN 1 ELSE 0 END) AS coded,
      |    max(ng) AS g, max(max_sfb) AS max_sfb, max(gg) AS gg,
      |    max(CASE WHEN short THEN 1 ELSE 0 END) AS short
      |  FROM sf GROUP BY 1, 2),
      |-- the full bit budget → ADTS payload bytes → offsets
      |bits AS (SELECT a.chunk_id, a.i, a.g, a.max_sfb, a.sf_sum,
      |    v.code_sum, v.esc_count, v.requant_sum,
      |    CASE WHEN a.i % 4 != 1 AND a.i % 2 = 0
      |      THEN a.i % 4 ELSE 0 END AS tns_order,
      |    19
      |    + CASE WHEN a.short = 1 THEN 11 ELSE 7 END
      |    + CASE WHEN a.short = 1 THEN a.g * a.max_sfb * 7
      |        ELSE a.max_sfb * 9 END
      |    + 8 * a.coded * a.g
      |    + 3
      |    + CASE WHEN a.i % 4 != 1 AND a.i % 2 = 0
      |        THEN 2 + 1 + 6 + 5 + (CASE WHEN a.i % 4 > 0
      |          THEN 2 + (a.i % 4) * (((a.i // 2) % 2) + 3) ELSE 0 END)
      |        ELSE 0 END
      |    + v.sbits + 3 AS rawbits
      |  FROM sfagg a JOIN vagg v ON v.chunk_id = a.chunk_id AND v.i = a.i),
      |pay AS (SELECT *, (rawbits + 7) // 8 AS payload_bytes FROM bits),
      |ofs AS (SELECT *,
      |    coalesce(sum(7 + payload_bytes) OVER (PARTITION BY chunk_id
      |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS "offset"
      |  FROM pay)
      |SELECT o.chunk_id, CAST(o.i AS BIGINT) AS i,
      |  CAST(o."offset" AS BIGINT) AS "offset",
      |  CAST(f.ws AS BIGINT) AS window_seq,
      |  CAST(o.g AS BIGINT) AS num_groups,
      |  CAST(o.max_sfb AS BIGINT) AS max_sfb,
      |  CAST(o.payload_bytes AS BIGINT) AS payload_bytes,
      |  CAST(o.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(o.tns_order AS BIGINT) AS tns_order,
      |  CAST(o.code_sum AS BIGINT) AS code_sum,
      |  CAST(o.esc_count AS BIGINT) AS esc_count,
      |  CAST(o.requant_sum AS BIGINT) AS requant_sum
      |FROM ofs o JOIN f ON f.chunk_id = o.chunk_id AND f.i = o.i
      |ORDER BY o.chunk_id, o.i""".stripMargin

  /** p26: AAC CHANNEL PAIR ([[graft.sources.Aac.muxCpe]], §6.3.1
    * channel_pair_element + §11 M/S) — stereo AAC, the shape the
    * reference's 2-channel container tests actually produce: a
    * common_window CPE shares one ics_info, carries
    * ms_mask_present(2) (cycling 0/1/2) with per-(group, sfb) ms_used
    * bits when 1, then both channels' individual_channel_streams.
    * The oracle replays the shared-info bit budget down to the ADTS
    * byte length, per-channel scalefactor/code sums, and the
    * 13818-7 M/S matrix — which unlike MP3's √2 convention is
    * integer-EXACT (l = m+s, r = m−s) — via Σ|m+s|+|m−s| over the
    * ms_used bands (nonlinear in the channels, so a misaligned
    * channel interleave desyncs it). ms_used and the value draws are
    * arranged group-invariantly (per-sfb selection, cross-group value
    * counters), so every aggregate is independent of the grouping
    * draw while the group count itself stays pinned. Scale: the p17
    * envelope. */
  private def p26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Aac, AudioIndex}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      def mags(cb: Int): Array[Int] =
        if (cb >= 11) Array(0, 1, 8, 27)
        else if (cb >= 9) Array(0, 1, 8)
        else Array(0, 1)
      def ics(i: Int, ch: Int): Aac.AacIcs = {
        val ws = Array(0, 2, 1, 3)(i % 4)
        val short = ws == 2
        val maxSfb = if (short) 4 else 6 + i % 3
        val grouping = if (short) (i * 37) % 128 else 0
        val info = Aac.IcsInfo(ws, i % 2, maxSfb, grouping)
        val cycleL = Array(1, 3, 5, 7, 9, 11, 6, 0)
        val cycleS = Array(3, 9, 11, 5)
        def cb(w: Int): Int =
          if (short) cycleS((i + w + ch) % 4)
          else cycleL((i + w + ch) % 8)
        val groups = info.groupLens
        val sections = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(w =>
            Aac.Section(cb(w), w, w + 1)))
        def dpcmOf(w: Int): Int =
          if (short) (if (w % 2 == 0) 4 else -4)
          else 4 * (((i + w + ch) % 3) - 1)
        val dpcm = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.filter(cb(_) != 0).map(dpcmOf))
        val counters = scala.collection.mutable.Map[Int, Int]()
        val spectral = groups.indices.toVector.map { gi =>
          (0 until maxSfb).toVector.map { w =>
            if (cb(w) == 0) Vector.empty[Int]
            else Vector.fill(info.sfbWidth(w, groups(gi))) {
              val t = counters.getOrElse(w, 0); counters(w) = t + 1
              val a = mags(cb(w))
              val m = a((i * 5 + w * 11 + t * 7 + ch * 13) % a.length)
              if (m != 0 && (t + i + ch) % 2 == 1) -m else m
            }
          }
        }
        Aac.AacIcs(132 + 4 * ((i + ch) % 5), info, sections, dpcm,
          None, spectral)
      }
      val adts = AudioIndex.adtsMux((0 until n).map { i =>
        val l = ics(i, 0); val r = ics(i, 1)
        val msp = i % 3
        val ms = if (msp == 1) l.info.groupLens.indices.toVector.map(
          _ => Vector.tabulate(l.info.maxSfb)(w => (i + w) % 2 == 0))
        else Vector.empty[Vector[Boolean]]
        AudioIndex.AdtsFrame(1, 4, 2, crcPresent = false,
          Aac.muxCpe(l, r, ms, msp))
      })
      val rec = AudioIndex.adtsDemux(adts)
      require(rec.size == n, s"chunk $cid: adts frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val (_, l, r, msp, msUsed) = Aac.demuxCpe(f.payload)
        def xrs(g: Aac.AacIcs): Vector[Vector[Vector[Long]]] = {
          val sfs = g.scalefactors
          g.info.groupLens.indices.toVector.map { gi =>
            (0 until g.info.maxSfb).toVector.map { w =>
              g.spectral(gi)(w).map(v =>
                Aac.requantExact(v, sfs(gi)(w).get))
            }
          }
        }
        val xl = xrs(l); val xr = xrs(r)
        def sel(w: Int): Boolean = msp match {
          case 2 => true
          case 1 => msUsed.head(w)
          case _ => false
        }
        val msAbs = l.info.groupLens.indices.map { gi =>
          (0 until l.info.maxSfb).withFilter(sel).map { w =>
            val width = l.info.sfbWidth(w, l.info.groupLens(gi))
            (0 until width).map { k =>
              val m = xl(gi)(w).lift(k).getOrElse(0L)
              val s2 = xr(gi)(w).lift(k).getOrElse(0L)
              val (a, b) = Aac.msReconstruct(m, s2)
              math.abs(a) + math.abs(b)
            }.sum
          }.sum
        }.sum
        def codeSum(g: Aac.AacIcs): Long =
          g.spectral.flatten.flatten.map(v => math.abs(v).toLong).sum
        def sfSum(g: Aac.AacIcs): Long =
          g.scalefactors.flatten.flatten.map(_.toLong).sum
        (cid, i.toLong, off, l.info.windowSequence.toLong,
          l.info.groupLens.length.toLong, l.info.maxSfb.toLong,
          msp.toLong, f.payload.length.toLong,
          sfSum(l), sfSum(r), codeSum(l), codeSum(r), msAbs)
      }
    }.toDF("chunk_id", "i", "offset", "window_seq", "num_groups",
        "max_sfb", "ms_mask", "payload_bytes", "sf_sum0", "sf_sum1",
        "code_sum0", "code_sum1", "ms_abs_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p26Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 2, 1, 3], CAST(g.i % 4 + 1 AS INT)) AS ws,
      |    g.i % 4 = 1 AS short,
      |    CASE WHEN g.i % 4 = 1 THEN 4 ELSE 6 + g.i % 3 END AS max_sfb,
      |    CASE WHEN g.i % 4 = 1
      |      THEN 8 - bit_count(CAST((g.i * 37) % 128 AS BIGINT))
      |      ELSE 1 END AS ng,
      |    g.i % 3 AS msp
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sfb AS (SELECT f.*, ch.ch, w.w,
      |    132 + 4 * ((f.i + ch.ch) % 5) AS gg,
      |    CASE WHEN f.short
      |      THEN list_extract([3, 9, 11, 5],
      |        CAST((f.i + w.w + ch.ch) % 4 + 1 AS INT))
      |      ELSE list_extract([1, 3, 5, 7, 9, 11, 6, 0],
      |        CAST((f.i + w.w + ch.ch) % 8 + 1 AS INT)) END AS cb,
      |    CASE WHEN f.short
      |      THEN (CASE WHEN w.w % 2 = 0 THEN 4 ELSE -4 END)
      |      ELSE 4 * (((f.i + w.w + ch.ch) % 3) - 1) END AS dpcm,
      |    CASE WHEN f.short THEN 8 * (4 * w.w + 4)
      |      ELSE 4 * w.w + 4 END AS nvals
      |  FROM f, (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(12)) AS w) w
      |  WHERE w.w < f.max_sfb),
      |sf AS (SELECT *,
      |    gg + sum(CASE WHEN cb != 0 THEN dpcm ELSE 0 END)
      |      OVER (PARTITION BY chunk_id, i, ch ORDER BY w) AS sfv
      |  FROM sfb),
      |vals AS (SELECT s.chunk_id, s.i, s.ch, s.w, s.cb, s.sfv, s.msp,
      |    s.short, t.t,
      |    CASE WHEN s.cb >= 11 THEN list_extract([0, 1, 8, 27],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 4
      |          + 1 AS INT))
      |      WHEN s.cb >= 9 THEN list_extract([0, 1, 8],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 3
      |          + 1 AS INT))
      |      ELSE list_extract([0, 1],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 2
      |          + 1 AS INT)) END AS m
      |  FROM sf s JOIN (SELECT unnest(range(320)) AS t) t
      |    ON t.t < s.nvals),
      |xr AS (SELECT *,
      |    CASE WHEN cb = 0 THEN 0 ELSE
      |      (CASE WHEN m != 0 AND (t + i + ch) % 2 = 1 THEN -1 ELSE 1 END)
      |      * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (sfv - 100) // 4) AS BIGINT) END AS x
      |  FROM vals),
      |vagg AS (SELECT chunk_id, i, ch,
      |    sum(CASE WHEN cb != 0 THEN m ELSE 0 END) AS code_sum,
      |    sum(CASE WHEN cb = 0 THEN 0 ELSE
      |      CASE WHEN cb = 1 THEN 2 WHEN cb = 3 THEN 2
      |        WHEN cb IN (5, 6) THEN 4 WHEN cb = 7 THEN 3
      |        WHEN cb = 9 THEN 4 ELSE 5 END
      |      + CASE WHEN cb IN (1, 5, 6) THEN 0
      |        WHEN m != 0 THEN 1 ELSE 0 END
      |      + CASE WHEN cb = 11 AND m >= 16 THEN 5 ELSE 0 END END)
      |      AS sbits
      |  FROM xr GROUP BY 1, 2, 3),
      |-- the §11 M/S pair: channel 0's xr at (w, t) against channel
      |-- 1's, over the ms_used bands
      |ms AS (SELECT a.chunk_id, a.i,
      |    sum(CASE WHEN a.msp = 2 OR (a.msp = 1 AND (a.i + a.w) % 2 = 0)
      |      THEN abs(a.x + b.x) + abs(a.x - b.x) ELSE 0 END) AS ms_abs
      |  FROM xr a JOIN xr b ON b.chunk_id = a.chunk_id AND b.i = a.i
      |    AND b.w = a.w AND b.t = a.t AND b.ch = 1
      |  WHERE a.ch = 0
      |  GROUP BY 1, 2),
      |sfagg AS (SELECT chunk_id, i, ch,
      |    max(ng) * sum(CASE WHEN cb != 0 THEN sfv ELSE 0 END) AS sf_sum,
      |    sum(CASE WHEN cb != 0 THEN 1 ELSE 0 END) AS coded
      |  FROM sf GROUP BY 1, 2, 3),
      |bits AS (SELECT f.chunk_id, f.i, f.ws, f.ng, f.max_sfb, f.msp,
      |    s0.sf_sum AS sf_sum0, s1.sf_sum AS sf_sum1,
      |    v0.code_sum AS code_sum0, v1.code_sum AS code_sum1,
      |    ms.ms_abs,
      |    -- CPE: id(3)+tag(4)+common_window(1)+ics_info+msp(2)
      |    -- [+ms_used G·max_sfb] + 2 × (gg(8) + sections + sf
      |    -- + 3 flag bits + spectral) + END(3)
      |    8 + (1 + 2 + 1)
      |    + CASE WHEN f.short THEN 11 ELSE 7 END
      |    + 2 + CASE WHEN f.msp = 1 THEN f.ng * f.max_sfb ELSE 0 END
      |    + 2 * 8
      |    + CASE WHEN f.short THEN 2 * f.ng * f.max_sfb * 7
      |        ELSE 2 * f.max_sfb * 9 END
      |    + 8 * (s0.coded + s1.coded) * f.ng
      |    + 2 * 3
      |    + v0.sbits + v1.sbits + 3 AS rawbits
      |  FROM f
      |  JOIN sfagg s0 ON s0.chunk_id = f.chunk_id AND s0.i = f.i
      |    AND s0.ch = 0
      |  JOIN sfagg s1 ON s1.chunk_id = f.chunk_id AND s1.i = f.i
      |    AND s1.ch = 1
      |  JOIN vagg v0 ON v0.chunk_id = f.chunk_id AND v0.i = f.i
      |    AND v0.ch = 0
      |  JOIN vagg v1 ON v1.chunk_id = f.chunk_id AND v1.i = f.i
      |    AND v1.ch = 1
      |  JOIN ms ON ms.chunk_id = f.chunk_id AND ms.i = f.i),
      |pay AS (SELECT *, (rawbits + 7) // 8 AS payload_bytes FROM bits),
      |ofs AS (SELECT *,
      |    coalesce(sum(7 + payload_bytes) OVER (PARTITION BY chunk_id
      |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS "offset"
      |  FROM pay)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST("offset" AS BIGINT) AS "offset",
      |  CAST(ws AS BIGINT) AS window_seq,
      |  CAST(ng AS BIGINT) AS num_groups,
      |  CAST(max_sfb AS BIGINT) AS max_sfb,
      |  CAST(msp AS BIGINT) AS ms_mask,
      |  CAST(payload_bytes AS BIGINT) AS payload_bytes,
      |  CAST(sf_sum0 AS BIGINT) AS sf_sum0,
      |  CAST(sf_sum1 AS BIGINT) AS sf_sum1,
      |  CAST(code_sum0 AS BIGINT) AS code_sum0,
      |  CAST(code_sum1 AS BIGINT) AS code_sum1,
      |  CAST(ms_abs AS BIGINT) AS ms_abs_sum
      |FROM ofs ORDER BY chunk_id, i""".stripMargin

  /** p27: AAC INTENSITY STEREO ([[graft.sources.Aac.intensityExact]],
    * §12.2/§12.3) — the low-bitrate joint-coding tool p26's M/S leg
    * left out: the CPE right channel's ODD sfbs ride codebooks 15
    * (in-phase) / 14 (out-of-phase), carry NO spectral data, and
    * their scalefactor slots hold dpcm is_position accumulating in
    * its OWN accumulator from 0 (§6.3.2) while the even sfbs'
    * spectral scalefactors keep accumulating from global_gain —
    * one interleaved dpcm stream, two accumulators. Reconstruction
    * scales the LEFT spectrum by 0.5^(is_pos/4) with the phase sign,
    * inverted by ms_used exactly when ms_mask_present = 1 (§12.3 —
    * mask 2 does NOT invert). The oracle replays the two-accumulator
    * walk (closed forms under the ±4 alternating fixture), the
    * intensity reconstruction sums on the exact grid, both channels'
    * code sums, and the full bit budget to ADTS payload bytes.
    * Group-invariant by construction (per-class D = 0 on short
    * frames, per-sfb cross-group value counters). Scale: the p17
    * envelope. */
  private def p27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Aac, AudioIndex}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val cycleL = Array(3, 9, 11, 7, 9, 11)
      val cycleR = Array(9, 11, 3)
      def mags(cb: Int): Array[Int] =
        if (cb >= 11) Array(0, 1, 8, 27)
        else if (cb >= 9) Array(0, 1, 8)
        else Array(0, 1)
      def mkIcs(i: Int, ch: Int): Aac.AacIcs = {
        val ws = Array(0, 2, 1, 3)(i % 4)
        val short = ws == 2
        val maxSfb = if (short) 4 else 6 + i % 3
        val grouping = if (short) (i * 37) % 128 else 0
        val info = Aac.IcsInfo(ws, i % 2, maxSfb, grouping)
        def cb(w: Int): Int =
          if (ch == 0) cycleL((i + w) % 6)
          else if (w % 2 == 0) cycleR((i + w) % 3)
          else if ((i + w) % 4 < 2) 15
          else 14
        val groups = info.groupLens
        val sections = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(w =>
            Aac.Section(cb(w), w, w + 1)))
        // one dpcm stream, two accumulators: spectral slots ±4 by
        // even/odd w (left) or by (w/2) parity (right, both classes)
        def dpcmOf(w: Int): Int =
          if (ch == 0) (if (w % 2 == 0) 4 else -4)
          else (if ((w / 2) % 2 == 0) 4 else -4)
        val dpcm = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(dpcmOf))
        val counters = scala.collection.mutable.Map[Int, Int]()
        val spectral = groups.indices.toVector.map { gi =>
          (0 until maxSfb).toVector.map { w =>
            if (ch == 1 && w % 2 == 1) Vector.empty[Int]
            else Vector.fill(info.sfbWidth(w, groups(gi))) {
              val t = counters.getOrElse(w, 0); counters(w) = t + 1
              val a = mags(cb(w))
              val m = a((i * 5 + w * 11 + t * 7 + ch * 13) % a.length)
              if (m != 0 && (t + i + ch) % 2 == 1) -m else m
            }
          }
        }
        Aac.AacIcs(
          if (ch == 0) 132 + 4 * (i % 5) else 136 + 4 * ((i + 1) % 5),
          info, sections, dpcm, None, spectral)
      }
      val adts = AudioIndex.adtsMux((0 until n).map { i =>
        val l = mkIcs(i, 0); val r = mkIcs(i, 1)
        val msp = i % 3
        val ms = if (msp == 1) l.info.groupLens.indices.toVector.map(
          _ => Vector.tabulate(l.info.maxSfb)(w => (i + w) % 2 == 0))
        else Vector.empty[Vector[Boolean]]
        AudioIndex.AdtsFrame(1, 4, 2, crcPresent = false,
          Aac.muxCpe(l, r, ms, msp))
      })
      val rec = AudioIndex.adtsDemux(adts)
      require(rec.size == n, s"chunk $cid: adts frame count drift")
      rec.iterator.zipWithIndex.map { case ((_, f), i) =>
        val (_, l, r, msp, msUsed) = Aac.demuxCpe(f.payload)
        val sfsL = l.scalefactors
        val sfsR = r.scalefactors
        val isSfbs = (0 until r.info.maxSfb)
          .filter(w => r.cbOf(0, w) >= 14)
        val outPhase = isSfbs.count(w => r.cbOf(0, w) == 14).toLong
        val isPosSum = r.info.groupLens.indices.map { gi =>
          isSfbs.map(w => sfsR(gi)(w).get.toLong).sum
        }.sum
        val intensitySum = l.info.groupLens.indices.map { gi =>
          isSfbs.map { w =>
            val inPhase = r.cbOf(gi, w) == 15
            val invert = msp == 1 && msUsed(gi)(w)
            l.spectral(gi)(w).map { v =>
              val xl = Aac.requantExact(v, sfsL(gi)(w).get)
              Aac.intensityExact(xl, sfsR(gi)(w).get, inPhase, invert)
            }.sum
          }.sum
        }.sum
        def codeSum(g: Aac.AacIcs): Long =
          g.spectral.flatten.flatten.map(v => math.abs(v).toLong).sum
        (cid, i.toLong, l.info.windowSequence.toLong,
          l.info.groupLens.length.toLong, l.info.maxSfb.toLong,
          msp.toLong, f.payload.length.toLong,
          isSfbs.size.toLong, outPhase, isPosSum,
          codeSum(l), codeSum(r), intensitySum)
      }
    }.toDF("chunk_id", "i", "window_seq", "num_groups", "max_sfb",
        "ms_mask", "payload_bytes", "is_count", "out_phase",
        "is_pos_sum", "code_sum0", "code_sum1", "intensity_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p27Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 2, 1, 3], CAST(g.i % 4 + 1 AS INT)) AS ws,
      |    g.i % 4 = 1 AS short,
      |    CASE WHEN g.i % 4 = 1 THEN 4 ELSE 6 + g.i % 3 END AS max_sfb,
      |    CASE WHEN g.i % 4 = 1
      |      THEN 8 - bit_count(CAST((g.i * 37) % 128 AS BIGINT))
      |      ELSE 1 END AS ng,
      |    g.i % 3 AS msp,
      |    132 + 4 * (g.i % 5) AS ggl,
      |    136 + 4 * ((g.i + 1) % 5) AS ggr
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |-- per (channel, sfb): codebook, intensity gate, closed-form
      |-- scalefactor / is_position under the ±4 alternating fixture
      |sfb AS (SELECT f.*, ch.ch, w.w,
      |    CASE WHEN ch.ch = 0
      |      THEN list_extract([3, 9, 11, 7, 9, 11],
      |        CAST((f.i + w.w) % 6 + 1 AS INT))
      |      WHEN w.w % 2 = 0
      |      THEN list_extract([9, 11, 3], CAST((f.i + w.w) % 3 + 1 AS INT))
      |      WHEN (f.i + w.w) % 4 < 2 THEN 15 ELSE 14 END AS cb,
      |    CASE WHEN ch.ch = 0
      |      THEN f.ggl + (CASE WHEN w.w % 2 = 0 THEN 4 ELSE 0 END)
      |      WHEN w.w % 2 = 0
      |      THEN f.ggr + (CASE WHEN (w.w // 2) % 2 = 0 THEN 4 ELSE 0 END)
      |      ELSE (CASE WHEN ((w.w - 1) // 2) % 2 = 0 THEN 4 ELSE 0 END)
      |    END AS sfv,
      |    CASE WHEN f.short THEN 8 * (4 * w.w + 4)
      |      ELSE 4 * w.w + 4 END AS nvals
      |  FROM f, (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(12)) AS w) w
      |  WHERE w.w < f.max_sfb),
      |-- spectral values (intensity sfbs of ch 1 carry none)
      |vals AS (SELECT s.chunk_id, s.i, s.ch, s.w, s.cb, s.sfv, t.t,
      |    CASE WHEN s.cb >= 11 THEN list_extract([0, 1, 8, 27],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 4
      |          + 1 AS INT))
      |      WHEN s.cb >= 9 THEN list_extract([0, 1, 8],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 3
      |          + 1 AS INT))
      |      ELSE list_extract([0, 1],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7 + s.ch * 13) % 2
      |          + 1 AS INT)) END AS m
      |  FROM sfb s JOIN (SELECT unnest(range(320)) AS t) t
      |    ON t.t < s.nvals
      |  WHERE NOT (s.ch = 1 AND s.w % 2 = 1)),
      |vagg AS (SELECT chunk_id, i, ch,
      |    sum(m) AS code_sum,
      |    sum(CASE WHEN cb = 3 THEN 2 WHEN cb = 7 THEN 3
      |        WHEN cb = 9 THEN 4 ELSE 5 END
      |      + CASE WHEN m != 0 THEN 1 ELSE 0 END
      |      + CASE WHEN cb = 11 AND m >= 16 THEN 5 ELSE 0 END) AS sbits
      |  FROM vals GROUP BY 1, 2, 3),
      |-- intensity reconstruction: left's odd-sfb spectrum scaled by
      |-- 2^(-is_pos/4) with the phase sign, ms_used-inverted at msp 1
      |iss AS (SELECT v.chunk_id, v.i,
      |    sum((CASE WHEN v.m != 0 AND (v.t + v.i) % 2 = 1 THEN -1
      |        ELSE 1 END)
      |      * (CASE v.m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |          ELSE 81 END)
      |      * CAST(power(2, (v.sfv - 100) // 4
      |          - (CASE WHEN (((v.w - 1) // 2) % 2) = 0 THEN 1 ELSE 0
      |            END)) AS BIGINT)
      |      * (CASE WHEN (v.i + v.w) % 4 < 2 THEN 1 ELSE -1 END)
      |      * (CASE WHEN f.msp = 1 AND (v.i + v.w) % 2 = 0 THEN -1
      |          ELSE 1 END)) AS intensity_sum
      |  FROM vals v JOIN f ON f.chunk_id = v.chunk_id AND f.i = v.i
      |  WHERE v.ch = 0 AND v.w % 2 = 1
      |  GROUP BY 1, 2),
      |-- is_position sums: closed form per odd sfb, × groups
      |isp AS (SELECT f.chunk_id, f.i,
      |    f.ng * sum(CASE WHEN ((w.w - 1) // 2) % 2 = 0 THEN 4 ELSE 0
      |      END) AS is_pos_sum,
      |    count(*) AS is_count,
      |    sum(CASE WHEN (f.i + w.w) % 4 >= 2 THEN 1 ELSE 0 END)
      |      AS out_phase
      |  FROM f, (SELECT unnest(range(12)) AS w) w
      |  WHERE w.w < f.max_sfb AND w.w % 2 = 1
      |  GROUP BY 1, 2, f.ng),
      |bits AS (SELECT f.chunk_id, f.i, f.ws, f.ng, f.max_sfb, f.msp,
      |    i2.is_count, i2.out_phase, i2.is_pos_sum,
      |    v0.code_sum AS code_sum0, v1.code_sum AS code_sum1,
      |    iss.intensity_sum,
      |    8 + 4
      |    + CASE WHEN f.short THEN 11 ELSE 7 END
      |    + 2 + CASE WHEN f.msp = 1 THEN f.ng * f.max_sfb ELSE 0 END
      |    + 2 * 8
      |    + CASE WHEN f.short THEN 2 * f.ng * f.max_sfb * 7
      |        ELSE 2 * f.max_sfb * 9 END
      |    + 8 * 2 * f.max_sfb * f.ng
      |    + 2 * 3
      |    + v0.sbits + v1.sbits + 3 AS rawbits
      |  FROM f
      |  JOIN isp i2 ON i2.chunk_id = f.chunk_id AND i2.i = f.i
      |  JOIN vagg v0 ON v0.chunk_id = f.chunk_id AND v0.i = f.i
      |    AND v0.ch = 0
      |  JOIN vagg v1 ON v1.chunk_id = f.chunk_id AND v1.i = f.i
      |    AND v1.ch = 1
      |  JOIN iss ON iss.chunk_id = f.chunk_id AND iss.i = f.i)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST(ws AS BIGINT) AS window_seq,
      |  CAST(ng AS BIGINT) AS num_groups,
      |  CAST(max_sfb AS BIGINT) AS max_sfb,
      |  CAST(msp AS BIGINT) AS ms_mask,
      |  CAST((rawbits + 7) // 8 AS BIGINT) AS payload_bytes,
      |  CAST(is_count AS BIGINT) AS is_count,
      |  CAST(out_phase AS BIGINT) AS out_phase,
      |  CAST(is_pos_sum AS BIGINT) AS is_pos_sum,
      |  CAST(code_sum0 AS BIGINT) AS code_sum0,
      |  CAST(code_sum1 AS BIGINT) AS code_sum1,
      |  CAST(intensity_sum AS BIGINT) AS intensity_sum
      |FROM bits ORDER BY chunk_id, i""".stripMargin

  /** p28: AAC PERCEPTUAL NOISE SUBSTITUTION ([[graft.sources.Aac]]
    * codebook 13, ISO/IEC 14496-3 §4.6.13 — MPEG-4 AAC, the profile
    * ADTS ID = 0 frames actually carry) — the third scalefactor
    * ACCUMULATOR: noise sfbs transmit no spectral data and their
    * scalefactor slots carry dpcm noise energy accumulating from
    * global_gain − 90, interleaved in ONE dpcm stream with the
    * spectral accumulator (the §6.3.2 walk now drives all three
    * regimes: sf, is_position, noise energy). The spec mandates only
    * the TARGET ENERGY — the generator is implementation-defined —
    * so the reconstruction seam is the documented alternating ±2^e
    * stand-in ([[Aac.pnsStandIn]]) whose absolute sums are
    * integer-exact. The oracle replays the interleaved two-class
    * closed forms (long frames alternate ±4 per class; short frames
    * pin the deltas to 0 for group invariance), band widths × 2^e
    * noise sums, and the bit budget to ADTS payload bytes. Scale:
    * the p17 envelope. */
  private def p28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Aac, AudioIndex}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      def mkIcs(i: Int): Aac.AacIcs = {
        val ws = Array(0, 2, 1, 3)(i % 4)
        val short = ws == 2
        val maxSfb = if (short) 4 else 6 + i % 3
        val grouping = if (short) (i * 37) % 128 else 0
        val info = Aac.IcsInfo(ws, i % 2, maxSfb, grouping)
        def cb(w: Int): Int = (i + w) % 3 match {
          case 0 => 13
          case 1 => 9
          case _ => 11
        }
        val groups = info.groupLens
        val sections = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(w =>
            Aac.Section(cb(w), w, w + 1)))
        // long: ±4 alternating per CLASS position; short: all 0
        // (group invariance — the accumulators cross groups)
        def dpcmOf(w: Int): Int =
          if (short) 0
          else {
            val r = (3 - i % 3) % 3 // noise residue: (i+w)%3 == 0
            val pos =
              if (cb(w) == 13) (w - r) / 3
              else w - (if (w >= r) (w - r) / 3 + 1 else 0)
            if (pos % 2 == 0) 4 else -4
          }
        val dpcm = groups.indices.toVector.map(_ =>
          (0 until maxSfb).toVector.map(dpcmOf))
        val counters = scala.collection.mutable.Map[Int, Int]()
        def mags(c: Int) = if (c >= 11) Array(0, 1, 8, 27)
          else Array(0, 1, 8)
        val spectral = groups.indices.toVector.map { gi =>
          (0 until maxSfb).toVector.map { w =>
            if (cb(w) == 13) Vector.empty[Int]
            else Vector.fill(info.sfbWidth(w, groups(gi))) {
              val t = counters.getOrElse(w, 0); counters(w) = t + 1
              val a = mags(cb(w))
              val m = a((i * 5 + w * 11 + t * 7) % a.length)
              if (m != 0 && (t + i) % 2 == 1) -m else m
            }
          }
        }
        Aac.AacIcs(194 + 4 * (i % 5), info, sections, dpcm, None,
          spectral)
      }
      val adts = AudioIndex.adtsMux((0 until n).map(i =>
        AudioIndex.AdtsFrame(1, 4, 1, crcPresent = false,
          Aac.muxSce(mkIcs(i)))))
      val rec = AudioIndex.adtsDemux(adts)
      require(rec.size == n, s"chunk $cid: adts frame count drift")
      rec.iterator.zipWithIndex.map { case ((_, f), i) =>
        val (_, ics) = Aac.demuxSce(f.payload)
        val sfs = ics.scalefactors
        val groups = ics.info.groupLens
        val noiseSfbs = (0 until ics.info.maxSfb)
          .filter(w => ics.cbOf(0, w) == 13)
        val nrgSum = groups.indices.map { gi =>
          noiseSfbs.map(w => sfs(gi)(w).get.toLong).sum
        }.sum
        val sfSum = groups.indices.map { gi =>
          (0 until ics.info.maxSfb)
            .filter(w => ics.cbOf(gi, w) != 13)
            .map(w => sfs(gi)(w).get.toLong).sum
        }.sum
        val noiseAbs = groups.indices.map { gi =>
          noiseSfbs.map { w =>
            Aac.pnsStandIn(ics.info.sfbWidth(w, groups(gi)),
              sfs(gi)(w).get).map(math.abs).sum
          }.sum
        }.sum
        val codeSum = ics.spectral.flatten.flatten
          .map(v => math.abs(v).toLong).sum
        (cid, i.toLong, ics.info.windowSequence.toLong,
          groups.length.toLong, ics.info.maxSfb.toLong,
          f.payload.length.toLong, noiseSfbs.size.toLong,
          nrgSum, sfSum, noiseAbs, codeSum)
      }
    }.toDF("chunk_id", "i", "window_seq", "num_groups", "max_sfb",
        "payload_bytes", "noise_count", "nrg_sum", "sf_sum",
        "noise_abs_sum", "code_sum")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p28Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 2, 1, 3], CAST(g.i % 4 + 1 AS INT)) AS ws,
      |    g.i % 4 = 1 AS short,
      |    CASE WHEN g.i % 4 = 1 THEN 4 ELSE 6 + g.i % 3 END AS max_sfb,
      |    CASE WHEN g.i % 4 = 1
      |      THEN 8 - bit_count(CAST((g.i * 37) % 128 AS BIGINT))
      |      ELSE 1 END AS ng,
      |    194 + 4 * (g.i % 5) AS gg,
      |    (3 - g.i % 3) % 3 AS nres
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sfb AS (SELECT f.*, w.w,
      |    CASE (f.i + w.w) % 3 WHEN 0 THEN 13 WHEN 1 THEN 9
      |      ELSE 11 END AS cb,
      |    -- three-accumulator closed forms under the per-class ±4
      |    -- alternation (long) / all-zero deltas (short)
      |    CASE WHEN f.short THEN
      |      (CASE WHEN (f.i + w.w) % 3 = 0 THEN f.gg - 90 ELSE f.gg END)
      |    WHEN (f.i + w.w) % 3 = 0 THEN f.gg - 90
      |      + (CASE WHEN ((w.w - f.nres) // 3) % 2 = 0 THEN 4 ELSE 0 END)
      |    ELSE f.gg
      |      + (CASE WHEN (w.w - (CASE WHEN w.w >= f.nres
      |          THEN (w.w - f.nres) // 3 + 1 ELSE 0 END)) % 2 = 0
      |        THEN 4 ELSE 0 END) END AS sfv,
      |    CASE WHEN f.short THEN 8 * (4 * w.w + 4)
      |      ELSE 4 * w.w + 4 END AS nvals,
      |    CASE WHEN f.short THEN 8 ELSE 1 END AS mult,
      |    4 * w.w + 4 AS width
      |  FROM f, (SELECT unnest(range(12)) AS w) w
      |  WHERE w.w < f.max_sfb),
      |vals AS (SELECT s.chunk_id, s.i, s.w, s.cb, t.t,
      |    CASE WHEN s.cb >= 11 THEN list_extract([0, 1, 8, 27],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7) % 4 + 1 AS INT))
      |      ELSE list_extract([0, 1, 8],
      |        CAST((s.i * 5 + s.w * 11 + t.t * 7) % 3 + 1 AS INT))
      |    END AS m
      |  FROM sfb s JOIN (SELECT unnest(range(320)) AS t) t
      |    ON t.t < s.nvals
      |  WHERE s.cb != 13),
      |vagg AS (SELECT chunk_id, i,
      |    sum(m) AS code_sum,
      |    sum(CASE WHEN cb = 9 THEN 4 ELSE 5 END
      |      + CASE WHEN m != 0 THEN 1 ELSE 0 END
      |      + CASE WHEN cb = 11 AND m >= 16 THEN 5 ELSE 0 END) AS sbits
      |  FROM vals GROUP BY 1, 2),
      |agg AS (SELECT chunk_id, i,
      |    sum(CASE WHEN cb = 13 THEN 1 ELSE 0 END) AS noise_count,
      |    max(ng) * sum(CASE WHEN cb = 13 THEN sfv ELSE 0 END)
      |      AS nrg_sum,
      |    max(ng) * sum(CASE WHEN cb != 13 THEN sfv ELSE 0 END)
      |      AS sf_sum,
      |    sum(CASE WHEN cb = 13 THEN mult * width
      |      * CAST(power(2, (sfv - 100) // 4) AS BIGINT)
      |      ELSE 0 END) AS noise_abs_sum
      |  FROM sfb GROUP BY 1, 2),
      |bits AS (SELECT f.chunk_id, f.i, f.ws, f.ng, f.max_sfb,
      |    a.noise_count, a.nrg_sum, a.sf_sum, a.noise_abs_sum,
      |    v.code_sum,
      |    19
      |    + CASE WHEN f.short THEN 11 ELSE 7 END
      |    + CASE WHEN f.short THEN f.ng * f.max_sfb * 7
      |        ELSE f.max_sfb * 9 END
      |    + 8 * f.max_sfb * f.ng
      |    + 3
      |    + v.sbits + 3 AS rawbits
      |  FROM f
      |  JOIN agg a ON a.chunk_id = f.chunk_id AND a.i = f.i
      |  JOIN vagg v ON v.chunk_id = f.chunk_id AND v.i = f.i)
      |SELECT chunk_id, CAST(i AS BIGINT) AS i,
      |  CAST(ws AS BIGINT) AS window_seq,
      |  CAST(ng AS BIGINT) AS num_groups,
      |  CAST(max_sfb AS BIGINT) AS max_sfb,
      |  CAST((rawbits + 7) // 8 AS BIGINT) AS payload_bytes,
      |  CAST(noise_count AS BIGINT) AS noise_count,
      |  CAST(nrg_sum AS BIGINT) AS nrg_sum,
      |  CAST(sf_sum AS BIGINT) AS sf_sum,
      |  CAST(noise_abs_sum AS BIGINT) AS noise_abs_sum,
      |  CAST(code_sum AS BIGINT) AS code_sum
      |FROM bits ORDER BY chunk_id, i""".stripMargin

  /** p29: MPEG-1 LAYER II STEREO ([[graft.sources.Mp2.Mp2StereoFrame]],
    * §2.4.1.5/§2.4.1.6) — the channel dimension p17/p20's mono subset
    * rejected, with Layer II's OWN joint form (intensity by sharing):
    * frames cycle stereo, joint with bound 4, joint with bound 12,
    * dual channel; below the bound everything is per-channel, at and
    * above it ONE 4-bit allocation and ONE set of granule codes are
    * shared while each channel keeps its OWN scfsi + scalefactors —
    * §2.4.1.6's field order (per-channel allocations, then the shared
    * tail, scfsi, scalefactors, granule-major codes sharing above the
    * bound) round-trips under the oracle, which replays allocations,
    * per-channel scalefactor sums, code sums (the demuxed second
    * channel REPEATS the shared codes), the §2.4.2.4 bit budget and
    * cumulative frame offsets. Scale: the p17 envelope. */
  private def p29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp2
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val modes = Vector((0, 0), (1, 0), (1, 2), (2, 0))
      def mkFrame(i: Int): Mp2.Mp2StereoFrame = {
        val (mode, ext) = modes(i % 4)
        val bound = if (mode == 1) 4 + 4 * ext else Mp2.Sblimit
        val subs = Array.tabulate(2, Mp2.Sblimit) { (ch, sb) =>
          val chEff = if (sb < bound) ch else 0
          val q = (i * 3 + sb * 5 + chEff * 7) % 9
          if (q == 0) Mp2.Mp2Sub(0, 0, Array.empty, Array.empty)
          else {
            val scfsi = (i + sb + ch) % 4
            Mp2.Mp2Sub(q, scfsi,
              Array.tabulate(Mp2.nsfStored(scfsi))(j =>
                (i + sb * 3 + ch * 5 + j * 7) % 63),
              Array.tabulate(36)(k =>
                (i * 7 + sb * 11 + chEff * 13 + k * 3) % Mp2.Levels(q)))
          }
        }
        Mp2.Mp2StereoFrame(14, 2, padding = i % 2 == 1, mode, ext, subs)
      }
      val frames = (0 until n).map(mkFrame)
      val rec = Mp2.demuxStereo(Mp2.muxStereo(frames))
      require(rec.size == n, s"chunk $cid: mp2 stereo count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        def allocCount(ch: Int): Long =
          f.subs(ch).count(_.q > 0).toLong
        def sfSum(ch: Int): Long =
          f.subs(ch).flatMap(_.sf).map(_.toLong).sum
        def codeSum(ch: Int): Long =
          f.subs(ch).flatMap(_.samples).map(_.toLong).sum
        (cid, i.toLong, off, f.mode.toLong, f.modeExt.toLong,
          f.bound.toLong, f.bodyBits.toLong,
          allocCount(0), allocCount(1), sfSum(0), sfSum(1),
          codeSum(0), codeSum(1))
      }
    }.toDF("chunk_id", "i", "offset", "mode", "mode_ext", "bound",
        "body_bits", "alloc0", "alloc1", "sf_sum0", "sf_sum1",
        "code_sum0", "code_sum1")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p29Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 1, 1, 2], CAST(g.i % 4 + 1 AS INT)) AS mode,
      |    list_extract([0, 0, 2, 0], CAST(g.i % 4 + 1 AS INT)) AS ext,
      |    CASE g.i % 4 WHEN 1 THEN 4 WHEN 2 THEN 12 ELSE 30 END AS bound
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sub AS (SELECT f.*, ch.ch, sb.sb,
      |    CASE WHEN sb.sb < f.bound THEN ch.ch ELSE 0 END AS cheff,
      |    (f.i * 3 + sb.sb * 5
      |      + (CASE WHEN sb.sb < f.bound THEN ch.ch ELSE 0 END) * 7) % 9
      |      AS q,
      |    (f.i + sb.sb + ch.ch) % 4 AS scfsi
      |  FROM f, (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(30)) AS sb) sb),
      |sub2 AS (SELECT *,
      |    list_extract([3, 2, 1, 2], CAST(scfsi + 1 AS INT)) AS nsf,
      |    list_extract([0, 3, 5, 7, 9, 15, 31, 63, 127],
      |      CAST(q + 1 AS INT)) AS lvl,
      |    list_extract([0, 5, 7, 9, 10, 12, 15, 18, 21],
      |      CAST(q + 1 AS INT)) AS gbits
      |  FROM sub),
      |sf AS (SELECT s.chunk_id, s.i, s.ch,
      |    sum(CASE WHEN s.q > 0 THEN (s.i + s.sb * 3 + s.ch * 5 + j.j * 7)
      |      % 63 ELSE 0 END) AS sf_sum
      |  FROM sub2 s JOIN (SELECT unnest(range(3)) AS j) j
      |    ON j.j < s.nsf
      |  GROUP BY 1, 2, 3),
      |codes AS (SELECT s.chunk_id, s.i, s.ch,
      |    sum(CASE WHEN s.q > 0
      |      THEN (s.i * 7 + s.sb * 11 + s.cheff * 13 + k.k * 3) % s.lvl
      |      ELSE 0 END) AS code_sum
      |  FROM sub2 s JOIN (SELECT unnest(range(36)) AS k) k
      |    ON s.q > 0 AND k.k < 36
      |  GROUP BY 1, 2, 3),
      |agg AS (SELECT chunk_id, i,
      |    sum(CASE WHEN ch = 0 AND q > 0 THEN 1 ELSE 0 END) AS alloc0,
      |    sum(CASE WHEN ch = 1 AND q > 0 THEN 1 ELSE 0 END) AS alloc1,
      |    -- §2.4.2.4 budget: per-channel allocations below the bound,
      |    -- one above; scfsi + scalefactors per (sb, ch); codes per
      |    -- channel below, once above
      |    max(4 * (2 * bound + (30 - bound)))
      |    + sum(CASE WHEN q > 0 THEN 2 + 6 * nsf ELSE 0 END)
      |    + sum(CASE WHEN q > 0 AND (sb < bound OR ch = 0)
      |        THEN 12 * gbits ELSE 0 END) AS body_bits
      |  FROM sub2 GROUP BY 1, 2),
      |ofs AS (SELECT chunk_id, i,
      |    coalesce(sum(1728 + i2 % 2) OVER (PARTITION BY chunk_id
      |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS "offset"
      |  FROM (SELECT chunk_id, i, i AS i2 FROM f))
      |SELECT f.chunk_id, CAST(f.i AS BIGINT) AS i,
      |  CAST(o."offset" AS BIGINT) AS "offset",
      |  CAST(f.mode AS BIGINT) AS mode,
      |  CAST(f.ext AS BIGINT) AS mode_ext,
      |  CAST(f.bound AS BIGINT) AS bound,
      |  CAST(a.body_bits AS BIGINT) AS body_bits,
      |  CAST(a.alloc0 AS BIGINT) AS alloc0,
      |  CAST(a.alloc1 AS BIGINT) AS alloc1,
      |  CAST(s0.sf_sum AS BIGINT) AS sf_sum0,
      |  CAST(s1.sf_sum AS BIGINT) AS sf_sum1,
      |  CAST(c0.code_sum AS BIGINT) AS code_sum0,
      |  CAST(c1.code_sum AS BIGINT) AS code_sum1
      |FROM f
      |JOIN ofs o ON o.chunk_id = f.chunk_id AND o.i = f.i
      |JOIN agg a ON a.chunk_id = f.chunk_id AND a.i = f.i
      |JOIN sf s0 ON s0.chunk_id = f.chunk_id AND s0.i = f.i AND s0.ch = 0
      |JOIN sf s1 ON s1.chunk_id = f.chunk_id AND s1.i = f.i AND s1.ch = 1
      |JOIN codes c0 ON c0.chunk_id = f.chunk_id AND c0.i = f.i
      |  AND c0.ch = 0
      |JOIN codes c1 ON c1.chunk_id = f.chunk_id AND c1.i = f.i
      |  AND c1.ch = 1
      |ORDER BY f.chunk_id, f.i""".stripMargin

  /** p30: MPEG-1 LAYER I STEREO ([[graft.sources.Mp2.Mp1StereoFrame]],
    * §2.4.1.5) — completes the 11172-3 stereo matrix next to p29 and
    * p24: Layer I's joint form shares the same 4 + 4·mode_extension
    * BOUND (per-channel 4-bit allocations below, ONE allocation and
    * ONE set of 12 sample codes above, per-channel 6-bit
    * scalefactors throughout) over the fully-conformant Layer I
    * bitstream (no appendix tables exist for Layer I — the (a+1)-bit
    * codes with the all-ones word excluded are normative text). The
    * oracle replays allocations, scalefactor and code sums per
    * channel (the demuxed right channel REPEATS the shared codes),
    * the bit budget, and the 4-byte-slot frame offsets. Scale: the
    * p17 envelope. */
  private def p30(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Mp2
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(10, count)
      val modes = Vector((0, 0), (1, 0), (1, 2), (2, 0))
      def mkFrame(i: Int): Mp2.Mp1StereoFrame = {
        val (mode, ext) = modes(i % 4)
        val bound = if (mode == 1) 4 + 4 * ext else 32
        val subs = Array.tabulate(2, 32) { (ch, sb) =>
          val chEff = if (sb < bound) ch else 0
          val a = (i * 3 + sb * 3 + chEff * 7) % 5
          if (a == 0) Mp2.Mp1Sub(0, 0, Array.empty)
          else Mp2.Mp1Sub(a, (i + sb * 3 + ch * 5) % 63,
            Array.tabulate(12)(k =>
              (i * 7 + sb * 11 + chEff * 13 + k * 3) %
                ((1 << (a + 1)) - 1)))
        }
        Mp2.Mp1StereoFrame(14, 2, padding = i % 2 == 1, mode, ext,
          subs)
      }
      val frames = (0 until n).map(mkFrame)
      val rec = Mp2.demuxL1Stereo(Mp2.muxL1Stereo(frames))
      require(rec.size == n, s"chunk $cid: mp1 stereo count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        (cid, i.toLong, off, f.mode.toLong, f.modeExt.toLong,
          f.bound.toLong, f.bodyBits.toLong,
          f.subs(0).count(_.a > 0).toLong,
          f.subs(1).count(_.a > 0).toLong,
          f.subs(0).map(_.sf.toLong).sum,
          f.subs(1).map(_.sf.toLong).sum,
          f.subs(0).flatMap(_.samples).map(_.toLong).sum,
          f.subs(1).flatMap(_.samples).map(_.toLong).sum)
      }
    }.toDF("chunk_id", "i", "offset", "mode", "mode_ext", "bound",
        "body_bits", "alloc0", "alloc1", "sf_sum0", "sf_sum1",
        "code_sum0", "code_sum1")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p30Sql =
    s"""${clickCnt(10)}
      |f AS (SELECT chunk_id, g.i,
      |    list_extract([0, 1, 1, 2], CAST(g.i % 4 + 1 AS INT)) AS mode,
      |    list_extract([0, 0, 2, 0], CAST(g.i % 4 + 1 AS INT)) AS ext,
      |    CASE g.i % 4 WHEN 1 THEN 4 WHEN 2 THEN 12 ELSE 32 END AS bound
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |sub AS (SELECT f.*, ch.ch, sb.sb,
      |    CASE WHEN sb.sb < f.bound THEN ch.ch ELSE 0 END AS cheff,
      |    (f.i * 3 + sb.sb * 3
      |      + (CASE WHEN sb.sb < f.bound THEN ch.ch ELSE 0 END) * 7) % 5
      |      AS a
      |  FROM f, (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(32)) AS sb) sb),
      |sf AS (SELECT chunk_id, i, ch,
      |    sum(CASE WHEN a > 0 THEN (i + sb * 3 + ch * 5) % 63
      |      ELSE 0 END) AS sf_sum,
      |    sum(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS alloc
      |  FROM sub GROUP BY 1, 2, 3),
      |codes AS (SELECT s.chunk_id, s.i, s.ch,
      |    sum(CASE WHEN s.a > 0
      |      THEN (s.i * 7 + s.sb * 11 + s.cheff * 13 + k.k * 3)
      |        % (CAST(power(2, s.a + 1) AS BIGINT) - 1)
      |      ELSE 0 END) AS code_sum
      |  FROM sub s JOIN (SELECT unnest(range(12)) AS k) k
      |    ON s.a > 0 AND k.k < 12
      |  GROUP BY 1, 2, 3),
      |bits AS (SELECT chunk_id, i,
      |    max(4 * (2 * bound + (32 - bound)))
      |    + sum(CASE WHEN a > 0 THEN 6 ELSE 0 END)
      |    + sum(CASE WHEN a > 0 AND (sb < bound OR ch = 0)
      |        THEN 12 * (a + 1) ELSE 0 END) AS body_bits
      |  FROM sub GROUP BY 1, 2),
      |ofs AS (SELECT chunk_id, i,
      |    coalesce(sum(672 + 4 * (i2 % 2)) OVER (PARTITION BY chunk_id
      |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS "offset"
      |  FROM (SELECT chunk_id, i, i AS i2 FROM f))
      |SELECT f.chunk_id, CAST(f.i AS BIGINT) AS i,
      |  CAST(o."offset" AS BIGINT) AS "offset",
      |  CAST(f.mode AS BIGINT) AS mode,
      |  CAST(f.ext AS BIGINT) AS mode_ext,
      |  CAST(f.bound AS BIGINT) AS bound,
      |  CAST(b.body_bits AS BIGINT) AS body_bits,
      |  CAST(s0.alloc AS BIGINT) AS alloc0,
      |  CAST(s1.alloc AS BIGINT) AS alloc1,
      |  CAST(s0.sf_sum AS BIGINT) AS sf_sum0,
      |  CAST(s1.sf_sum AS BIGINT) AS sf_sum1,
      |  CAST(coalesce(c0.code_sum, 0) AS BIGINT) AS code_sum0,
      |  CAST(coalesce(c1.code_sum, 0) AS BIGINT) AS code_sum1
      |FROM f
      |JOIN ofs o ON o.chunk_id = f.chunk_id AND o.i = f.i
      |JOIN bits b ON b.chunk_id = f.chunk_id AND b.i = f.i
      |JOIN sf s0 ON s0.chunk_id = f.chunk_id AND s0.i = f.i AND s0.ch = 0
      |JOIN sf s1 ON s1.chunk_id = f.chunk_id AND s1.i = f.i AND s1.ch = 1
      |LEFT JOIN codes c0 ON c0.chunk_id = f.chunk_id AND c0.i = f.i
      |  AND c0.ch = 0
      |LEFT JOIN codes c1 ON c1.chunk_id = f.chunk_id AND c1.i = f.i
      |  AND c1.ch = 1
      |ORDER BY f.chunk_id, f.i""".stripMargin


  /** p31: MP3 DECODE TO PCM ([[graft.sources.Mp3Pcm]], ISO/IEC
    * 11172-3 §2.4.3.4.10–.16) — the time-domain leg p21–p24 stopped
    * short of, matching the reference's audio decoder surface
    * (streamtasks/media/audiodecoder.py:43-59): requantized spectra →
    * alias-reduction butterflies (spec-formula cs/ca, Q10) → IMDCT
    * 36/12 with the four block-type window shapes → overlap-add →
    * frequency inversion → the Layer II polyphase ([[Mp2.Synth]]).
    * Frames cycle all five window regimes (long, start, short, mixed,
    * stop) with subblock gains on the short windows; the oracle
    * replays the ENTIRE integer lattice in SQL — per-line requant +
    * §2.4.3.4.5 reorder, the butterfly neighborhood, the 36×18
    * IMDCT·window matrices as literals, cross-granule overlap, and
    * the polyphase through the per-subband summed-output kernels
    * (the lemma Mp3Spec pins against [[Mp2.subbandKernels]]) — and
    * pins per-frame PCM sums, the frame's first sample, and
    * post-alias spectral sums. */
  /** p31/e57's shared fixture: frames cycling all five window
    * regimes, salted per chunk (fi = i + 7·chunk). The magnitudes,
    * gains and subblock gains keep every granule on the exact-integer
    * requant grid AND inside [[graft.sources.Mp3Pcm]]'s L1 headroom. */
  private[operators] object Mp3PcmFixtures extends Serializable {
    import graft.sources.Mp3
    def granule(fi: Int, gr: Int): Mp3.Granule = {
      val regime = (fi + gr) % 5
      val split = regime match {
        case 1 => Some(Mp3.BlockSplit(1, mixed = false, (0, 0, 0)))
        case 2 => Some(Mp3.BlockSplit(2, mixed = false,
          ((fi + gr) % 2, (fi * 3 + gr) % 2, (fi + 2 * gr) % 2)))
        case 3 => Some(Mp3.BlockSplit(2, mixed = true,
          ((fi + gr) % 2, (fi * 3 + gr) % 2, (fi + 2 * gr) % 2)))
        case 4 => Some(Mp3.BlockSplit(3, mixed = false, (0, 0, 0)))
        case _ => None
      }
      val bv = 20 + (fi * 7 + gr * 3) % 10
      val r0Long = 3 // sfb(rc0+1)/2 with rc0 = 1
      val cubes3 = Array(0, 1, 8)
      val cubes4 = Array(0, 1, 8, 27)
      val pairs = Vector.tabulate(bv) { pi =>
        def v(s2: Int): Int = {
          val idx = 2 * pi + s2
          // magnitude 27 (an ESC value) only where the region
          // table allows it: long-regime pairs past region 0
          val m =
            if (regime == 0 && pi >= r0Long)
              cubes4((fi * 5 + idx * 7 + gr * 11) % 4)
            else cubes3((fi * 5 + idx * 7 + gr * 11) % 3)
          if (m != 0 && (idx + fi) % 2 == 1) -m else m
        }
        (v(0), v(1))
      }
      val gain =
        if (regime == 2 || regime == 3) 218 + 4 * ((fi + gr) % 2)
        else 210 + 4 * ((fi + gr) % 3)
      val nSf = split match {
        case Some(bs) if bs.blockType == 2 && !bs.mixed => 36
        case Some(bs) if bs.blockType == 2 => 35
        case _ => 21
      }
      Mp3.Granule(pairs, Vector.empty, gain, 0,
        (2, 18, if (split.isEmpty) 19 else 0),
        if (split.isEmpty) 1 else 0, if (split.isEmpty) 2 else 0,
        preflag = false, scalefacScale = false,
        scalefacs = Vector.fill(nSf)(0), blockSplit = split)
    }
    def frame(fi: Int, padding: Boolean): Mp3.Mp3FrameData =
      Mp3.Mp3FrameData(14, 2, padding = padding,
        Vector.fill(4)(false), Vector(granule(fi, 0), granule(fi, 1)))
  }

  private def p31(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Mp3, Mp3Pcm}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(6, count)
      val frames = (0 until n).map(i =>
        Mp3PcmFixtures.frame(i + cid.toInt * 7, padding = i % 2 == 1))
      val rec = Mp3.demux(Mp3.mux(frames))
      require(rec.size == n, s"chunk $cid: mp3 frame count drift")
      val hybrid = new Mp3Pcm.Hybrid()
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val perGr = (0 until 2).map { gr =>
          val g = f.granules(gr)
          val boundaries = g.blockSplit match {
            case Some(bs) if bs.blockType == 2 =>
              if (bs.mixed) 1 else 0
            case _ => 31
          }
          val xa = Mp3Pcm.aliasReduce(Mp3Pcm.dequantGranule(g),
            boundaries)
          val pcm = hybrid.granule(g)
          (xa.iterator.flatten.sum, pcm.sum, pcm(0),
            f.part23Length(gr), (i + cid.toInt * 7 + gr) % 5)
        }
        (cid, i.toLong, off,
          perGr(0)._5.toLong, perGr(1)._5.toLong,
          perGr(0)._4.toLong, perGr(1)._4.toLong,
          perGr(0)._1, perGr(1)._1,
          perGr(0)._2 + perGr(1)._2, perGr(0)._3)
      }
    }.toDF("chunk_id", "i", "offset", "regime0", "regime1",
        "part23_0", "part23_1", "xa_sum0", "xa_sum1",
        "pcm_sum", "pcm0")
      .orderBy(col("chunk_id"), col("i"))
  }

  /** The p31 oracle's literal tables, generated from the SAME
    * quantized constants the engine uses (the p05 twiddle pattern):
    * nonzero IMDCT·window entries, the per-subband cumulative
    * polyphase kernels, and the sample-0 kernels. */
  private def p31MLiteral: String = {
    import graft.sources.Mp3Pcm
    val rows = for {
      bt <- 0 to 3
      j <- 0 until 36
      k <- 0 until 18
      v = Mp3Pcm.imdctWin(bt)(j)(k)
      if v != 0
    } yield s"($bt,$j,$k,$v)"
    rows.mkString(",")
  }
  private def p31CkLiteral: String = {
    import graft.sources.Mp2
    val kern = Mp2.subbandKernels()
    val rows = for {
      sb <- 0 until 8
      r <- -1 to 15
      v = (0 to r).map(a => kern(sb)(a)).sum
    } yield s"($sb,$r,$v)"
    rows.mkString(",")
  }
  private def p31K0Literal: String = {
    import graft.sources.Mp2
    val rows = for {
      sb <- 0 until 8
      a <- 0 to 15
      v = Mp2.Matrix(if (a % 2 == 0) 0 else 32)(sb).toLong *
        Mp2.Window(32 * a)
    } yield s"($sb,$a,$v)"
    rows.mkString(",")
  }

  /** The p31 lattice CTE chain (requant → reorder → alias → IMDCT →
    * overlap → polyphase kernels), shared verbatim with the e57
    * streaming twin's oracle. */
  private[operators] val p31Lattice: String = {
    import graft.sources.Mp3Pcm
    val cs = Mp3Pcm.CsQ.mkString("[", ",", "]")
    val ca = Mp3Pcm.CaQ.mkString("[", ",", "]")
    s"""${clickCnt(6)}
      |f AS (SELECT chunk_id, g.i, g.i + chunk_id * 7 AS fi FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |gr AS (SELECT chunk_id, i, fi, gg.gr, (fi + gg.gr) % 5 AS regime,
      |    20 + (fi * 7 + gg.gr * 3) % 10 AS bv,
      |    CASE WHEN (fi + gg.gr) % 5 IN (2, 3)
      |      THEN 218 + 4 * ((fi + gg.gr) % 2)
      |      ELSE 210 + 4 * ((fi + gg.gr) % 3) END AS gain,
      |    (fi + gg.gr) % 2 AS sbg0, (fi * 3 + gg.gr) % 2 AS sbg1,
      |    (fi + 2 * gg.gr) % 2 AS sbg2
      |  FROM f, (SELECT unnest(range(2)) AS gr) gg),
      |-- per-line coded magnitudes (the engine's modular draws) and
      |-- the region table per pair (part3 accounting)
      |lines AS (SELECT g.chunk_id, g.i, g.gr, g.regime, g.gain,
      |    g.sbg0, g.sbg1, g.sbg2, v.idx AS j,
      |    CASE WHEN g.regime = 0 AND v.idx // 2 >= 3
      |      THEN list_extract([0, 1, 8, 27],
      |        CAST((g.fi * 5 + v.idx * 7 + g.gr * 11) % 4 + 1 AS INT))
      |      ELSE list_extract([0, 1, 8],
      |        CAST((g.fi * 5 + v.idx * 7 + g.gr * 11) % 3 + 1 AS INT))
      |    END AS m,
      |    CASE WHEN (v.idx + g.fi) % 2 = 1 THEN -1 ELSE 1 END AS sgn,
      |    CASE WHEN g.regime = 0 THEN
      |        CASE WHEN v.idx // 2 < 3 THEN 2
      |          WHEN v.idx // 2 < 15 THEN 18 ELSE 19 END
      |      WHEN g.regime IN (1, 3, 4) THEN
      |        CASE WHEN v.idx // 2 < 36 THEN 2 ELSE 18 END
      |      ELSE CASE WHEN v.idx // 2 < 18 THEN 2 ELSE 18 END
      |    END AS tbl
      |  FROM gr g
      |  JOIN (SELECT unnest(range(60)) AS idx) v ON v.idx < 2 * g.bv),
      |-- §2.4.3.4.5 map to (subband, slot): long layout for long
      |-- regimes and the mixed granule's first 36 lines; short bands
      |-- b (offsets b²+b, window width 2b+2) otherwise
      |cells AS (SELECT l.*, 
      |    CASE WHEN l.regime IN (0, 1, 4) OR (l.regime = 3 AND l.j < 36)
      |      THEN l.j // 18 ELSE
      |        ((b.b * b.b + b.b) + (l.j - 3 * (b.b * b.b + b.b))
      |          - ((l.j - 3 * (b.b * b.b + b.b)) // (2 * b.b + 2))
      |            * (2 * b.b + 2)) // 6 END AS sb,
      |    CASE WHEN l.regime IN (0, 1, 4) OR (l.regime = 3 AND l.j < 36)
      |      THEN l.j % 18 ELSE
      |        6 * ((l.j - 3 * (b.b * b.b + b.b)) // (2 * b.b + 2))
      |        + ((b.b * b.b + b.b) + (l.j - 3 * (b.b * b.b + b.b))
      |          - ((l.j - 3 * (b.b * b.b + b.b)) // (2 * b.b + 2))
      |            * (2 * b.b + 2)) % 6 END AS k,
      |    CASE WHEN l.regime IN (0, 1, 4) OR (l.regime = 3 AND l.j < 36)
      |      THEN (l.gain - 210) // 4
      |      ELSE (l.gain - 8 * list_extract([l.sbg0, l.sbg1, l.sbg2],
      |        CAST((l.j - 3 * (b.b * b.b + b.b)) // (2 * b.b + 2) + 1
      |          AS INT)) - 210) // 4 END AS e
      |  FROM lines l
      |  LEFT JOIN (SELECT unnest(range(12)) AS b) b
      |    ON l.j >= 3 * (b.b * b.b + b.b)
      |    AND l.j < 3 * ((b.b + 1) * (b.b + 1) + b.b + 1)),
      |xs AS (SELECT chunk_id, i, gr, sb, k,
      |    SUM(sgn * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |      ELSE 81 END) * CAST(power(2, e) AS BIGINT)) AS x
      |  FROM cells GROUP BY 1, 2, 3, 4, 5),
      |-- §2.4.3.4.10.1 butterflies over the affected grid (inputs
      |-- stay in sb ≤ 3, alias reaches sb 4)
      |grid AS (SELECT g.chunk_id, g.i, g.gr, g.regime,
      |    CASE WHEN g.regime IN (0, 1, 4) THEN 31
      |      WHEN g.regime = 3 THEN 1 ELSE 0 END AS bounds,
      |    sbv.sb, kv.k
      |  FROM gr g, (SELECT unnest(range(5)) AS sb) sbv,
      |    (SELECT unnest(range(18)) AS k) kv),
      |xa AS (SELECT g.chunk_id, g.i, g.gr, g.regime, g.sb, g.k,
      |    CASE
      |      WHEN g.k >= 10 AND g.sb + 1 <= g.bounds THEN
      |        list_extract($cs, CAST(17 - g.k + 1 AS INT))
      |          * coalesce(x0.x, 0)
      |        - list_extract($ca, CAST(17 - g.k + 1 AS INT))
      |          * coalesce(xu.x, 0)
      |      WHEN g.k <= 7 AND g.sb >= 1 AND g.sb <= g.bounds THEN
      |        list_extract($ca, CAST(g.k + 1 AS INT))
      |          * coalesce(xd.x, 0)
      |        + list_extract($cs, CAST(g.k + 1 AS INT))
      |          * coalesce(x0.x, 0)
      |      ELSE 1024 * coalesce(x0.x, 0) END AS v
      |  FROM grid g
      |  LEFT JOIN xs x0 ON x0.chunk_id = g.chunk_id AND x0.i = g.i
      |    AND x0.gr = g.gr AND x0.sb = g.sb AND x0.k = g.k
      |  LEFT JOIN xs xu ON xu.chunk_id = g.chunk_id AND xu.i = g.i
      |    AND xu.gr = g.gr AND xu.sb = g.sb + 1 AND xu.k = 17 - g.k
      |  LEFT JOIN xs xd ON xd.chunk_id = g.chunk_id AND xd.i = g.i
      |    AND xd.gr = g.gr AND xd.sb = g.sb - 1 AND xd.k = 17 - g.k),
      |-- IMDCT·window per (granule, subband): literal Q10 matrices
      |mm(bt, j, k, v) AS (VALUES ${p31MLiteral}),
      |cur AS (SELECT a.chunk_id, a.i, a.gr, 2 * a.i + a.gr AS gabs,
      |    a.sb, m.j, SUM(m.v * a.v) AS v
      |  FROM xa a
      |  JOIN mm m ON m.k = a.k AND m.bt =
      |    CASE WHEN a.regime IN (0, 1, 4) THEN
      |        CASE a.regime WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 3 END
      |      WHEN a.regime = 3 AND a.sb < 2 THEN 0
      |      ELSE 2 END
      |  WHERE a.v != 0
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |-- overlap-add + §2.4.3.4.16 inversion → polyphase inputs
      |sgrid AS (SELECT g.chunk_id, gv.gabs, sbv.sb, tv.t,
      |    18 * gv.gabs + tv.t AS s
      |  FROM c g
      |  JOIN (SELECT unnest(range(12)) AS gabs) gv ON gv.gabs < 2 * g.n
      |  CROSS JOIN (SELECT unnest(range(5)) AS sb) sbv
      |  CROSS JOIN (SELECT unnest(range(18)) AS t) tv),
      |slots AS (SELECT sg.chunk_id, sg.gabs, sg.sb, sg.t, sg.s,
      |    (CASE WHEN sg.sb % 2 = 1 AND sg.t % 2 = 1 THEN -1 ELSE 1 END)
      |    * (coalesce(c0.v, 0) + coalesce(c1.v, 0)) AS v
      |  FROM sgrid sg
      |  LEFT JOIN cur c0 ON c0.chunk_id = sg.chunk_id
      |    AND c0.gabs = sg.gabs AND c0.sb = sg.sb AND c0.j = sg.t
      |  LEFT JOIN cur c1 ON c1.chunk_id = sg.chunk_id
      |    AND c1.gabs = sg.gabs - 1 AND c1.sb = sg.sb
      |    AND c1.j = sg.t + 18),
      |ck(sb, r, v) AS (VALUES ${p31CkLiteral}),
      |k0(sb, a, v) AS (VALUES ${p31K0Literal}),
      |pcm AS (SELECT sl.chunk_id, fr.i,
      |    SUM(sl.v * (ckhi.v - cklo.v)) AS pcm_sum
      |  FROM slots sl
      |  JOIN f fr ON fr.chunk_id = sl.chunk_id
      |    AND sl.s >= 36 * fr.i - 15 AND sl.s <= 36 * fr.i + 35
      |  JOIN ck ckhi ON ckhi.sb = sl.sb
      |    AND ckhi.r = least(15, 36 * fr.i + 35 - sl.s)
      |  JOIN ck cklo ON cklo.sb = sl.sb
      |    AND cklo.r = greatest(0, 36 * fr.i - sl.s) - 1
      |  GROUP BY 1, 2),
      |pcm0 AS (SELECT sl.chunk_id, fr.i, SUM(sl.v * k.v) AS v
      |  FROM slots sl
      |  JOIN f fr ON fr.chunk_id = sl.chunk_id
      |    AND 36 * fr.i - sl.s BETWEEN 0 AND 15
      |  JOIN k0 k ON k.sb = sl.sb AND k.a = 36 * fr.i - sl.s
      |  GROUP BY 1, 2),
      |xasum AS (SELECT chunk_id, i, gr, SUM(v) AS v
      |  FROM xa GROUP BY 1, 2, 3),
      |p3 AS (SELECT chunk_id, i, gr,
      |    SUM(4 + (CASE WHEN m != 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN tbl >= 16 AND m >= 15
      |          THEN (tbl % 4) + 2 ELSE 0 END)) AS bits
      |  FROM lines GROUP BY 1, 2, 3)""".stripMargin
  }

  private val p31Sql = {
    p31Lattice + s"""
      |SELECT fr.chunk_id, CAST(fr.i AS BIGINT) AS i,
      |  CAST(1440 * fr.i + fr.i // 2 AS BIGINT) AS "offset",
      |  CAST((fr.fi + 0) % 5 AS BIGINT) AS regime0,
      |  CAST((fr.fi + 1) % 5 AS BIGINT) AS regime1,
      |  CAST(p30.bits AS BIGINT) AS part23_0,
      |  CAST(p31.bits AS BIGINT) AS part23_1,
      |  CAST(x0.v AS BIGINT) AS xa_sum0,
      |  CAST(x1.v AS BIGINT) AS xa_sum1,
      |  CAST(coalesce(p.pcm_sum, 0) AS BIGINT) AS pcm_sum,
      |  CAST(coalesce(p0.v, 0) AS BIGINT) AS pcm0
      |FROM f fr
      |JOIN p3 p30 ON p30.chunk_id = fr.chunk_id AND p30.i = fr.i
      |  AND p30.gr = 0
      |JOIN p3 p31 ON p31.chunk_id = fr.chunk_id AND p31.i = fr.i
      |  AND p31.gr = 1
      |JOIN xasum x0 ON x0.chunk_id = fr.chunk_id AND x0.i = fr.i
      |  AND x0.gr = 0
      |JOIN xasum x1 ON x1.chunk_id = fr.chunk_id AND x1.i = fr.i
      |  AND x1.gr = 1
      |LEFT JOIN pcm p ON p.chunk_id = fr.chunk_id AND p.i = fr.i
      |LEFT JOIN pcm0 p0 ON p0.chunk_id = fr.chunk_id AND p0.i = fr.i
      |ORDER BY fr.chunk_id, fr.i""".stripMargin
  }


  /** p32: AAC DECODE TO SAMPLES ([[graft.sources.AacPcm]], ISO/IEC
    * 14496-3 §4.6.11) — the filterbank leg p25–p28 stopped short of,
    * matching the reference's decoded-samples test surface
    * (tests/media/test_audio_codec.py:10-16): requantized SCE
    * spectra → IMDCT 2048/256 under the sine window → the four
    * window sequences cycling in their LEGAL transition order
    * (ONLY_LONG → LONG_START → EIGHT_SHORT → LONG_STOP) →
    * 50%-overlap-add. Frames round-trip through the real raw_data_
    * block bits (muxSce/demuxSce); the oracle replays requant (§9.2
    * exact grid under the running DPCM scalefactors, closed-form
    * cumulative) and pins each frame's samples through three
    * independent linear functionals of the SAME Q10 lattice —
    * summed, alternating-sign, and first-sample kernels over both
    * overlap halves. */
  /** p32/e58's shared fixture: SCE frames cycling the four window
    * sequences in legal order, cb-11 spectra on the §9.2 exact grid
    * under a cyclic DPCM scalefactor walk, salted per chunk. */
  private[operators] object AacPcmFixtures extends Serializable {
    import graft.sources.Aac
    private val cubes = Array(0, 1, 8, 27)
    def sce(fi: Int): Aac.AacIcs = {
      val seq = fi % 4
      val short = seq == 2
      val maxSfb = if (short) 3 else 5
      val info = Aac.IcsInfo(seq, 0, maxSfb, 0)
      val groups = info.groupLens
      val gain = 100 + 4 * (2 + fi % 3)
      val sections = groups.indices.toVector.map(_ =>
        Vector(Aac.Section(11, 0, maxSfb)))
      val dpcm = groups.indices.toVector.map(gi =>
        (0 until maxSfb).toVector.map { b =>
          val dSlot = gi * maxSfb + b
          4 * (((fi + dSlot) % 3) - 1)
        })
      val spectral = groups.indices.toVector.map { gi =>
        (0 until maxSfb).toVector.map { b =>
          Vector.tabulate(info.sfbWidth(b, groups(gi))) { l =>
            val k = if (short) 128 * gi + Aac.SwbShort(b) + l
              else Aac.SwbLong(b) + l
            val m = cubes((fi * 5 + k * 7) % 4)
            if (m != 0 && (k + fi) % 2 == 1) -m else m
          }
        }
      }
      Aac.AacIcs(gain, info, sections, dpcm, None, spectral)
    }
  }

  private def p32(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Aac, AacPcm}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(6, count)
      val frames = (0 until n).map(i =>
        AacPcmFixtures.sce(i + cid.toInt * 7))
      val overlap = new AacPcm.Overlap()
      frames.iterator.zipWithIndex.map { case (ics, i) =>
        val (tag, rec) = Aac.demuxSce(Aac.muxSce(ics))
        require(tag == 0 && rec.spectral == ics.spectral,
          s"chunk $cid frame $i: SCE round-trip drift")
        val lines = AacPcm.dequantIcs(rec)
        val out = overlap.frame(lines, rec.info.windowSequence)
        val sfSum = rec.scalefactors.iterator.flatten.flatten
          .map(_.toLong).sum
        (cid, i.toLong, rec.info.windowSequence.toLong,
          lines.iterator.map(math.abs).sum, sfSum,
          out.sum,
          out.iterator.zipWithIndex
            .map { case (v, j) => if (j % 2 == 1) -v else v }.sum,
          out(0))
      }
    }.toDF("chunk_id", "i", "seq", "spec_sum", "sf_sum",
        "pcm_sum", "pcm_alt", "pcm0")
      .orderBy(col("chunk_id"), col("i"))
  }

  /** The p32 oracle's kernel literals, generated from the SAME Q10
    * lattice the engine uses: per (seq, line) the six linear
    * functionals — first/second-half sums, first/second-half
    * alternating sums, and the two first-sample taps. */
  private def p32KerLiteral: String = {
    import graft.sources.{Aac, AacPcm}
    def row(seq: Int, k: Int): String = {
      val m = AacPcm.wm(seq)
      var s1 = 0L; var s2 = 0L; var a1 = 0L; var a2 = 0L
      var i = 0
      while (i < 2048) {
        val v = m(i)(k).toLong
        val alt = if (i % 2 == 1) -v else v
        if (i < 1024) { s1 += v; a1 += alt }
        else { s2 += v; a2 += alt }
        i += 1
      }
      s"($seq,$k,$s1,$s2,$a1,$a2,${m(0)(k)},${m(1024)(k)})"
    }
    val longKs = 0 until Aac.SwbLong(5)
    val shortKs = for (w <- 0 until 8; kk <- 0 until Aac.SwbShort(3))
      yield 128 * w + kk
    (Seq(0, 1, 3).flatMap(seq => longKs.map(k => row(seq, k))) ++
      shortKs.map(k => row(2, k))).mkString(",")
  }

  /** The p32 lattice CTE chain (lines → requant → kernels), shared
    * verbatim with the e58 streaming twin's oracle. */
  private[operators] lazy val p32Lattice: String =
    s"""${clickCnt(6)}
      |f AS (SELECT chunk_id, g.i, g.i + chunk_id * 7 AS fi,
      |    (g.i + chunk_id * 7) % 4 AS seq
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |-- spectral lines: long k in [swb(b), swb(b+1)) over 5 sfbs
      |-- (swb(b) = 2(b²+b)); EIGHT_SHORT k = 128·w + kk, kk over 3
      |-- short sfbs; the sfb slot drives the DPCM scalefactor walk
      |kl AS (SELECT fr.*, kv.k, b.b AS slot
      |  FROM f fr
      |  JOIN (SELECT unnest(range(60)) AS k) kv ON fr.seq != 2
      |  JOIN (SELECT unnest(range(5)) AS b) b
      |    ON kv.k >= 2 * (b.b * b.b + b.b)
      |    AND kv.k < 2 * ((b.b + 1) * (b.b + 1) + b.b + 1)),
      |ks AS (SELECT fr.*, 128 * w.w + kv.k AS k,
      |    w.w * 3 + b.b AS slot
      |  FROM f fr
      |  JOIN (SELECT unnest(range(8)) AS w) w ON fr.seq = 2
      |  JOIN (SELECT unnest(range(24)) AS k) kv ON true
      |  JOIN (SELECT unnest(range(3)) AS b) b
      |    ON kv.k >= 2 * (b.b * b.b + b.b)
      |    AND kv.k < 2 * ((b.b + 1) * (b.b + 1) + b.b + 1)),
      |kall AS (SELECT chunk_id, i, fi, seq, k, slot FROM kl
      |  UNION ALL SELECT chunk_id, i, fi, seq, k, slot FROM ks),
      |-- §9.2 requant under the running scalefactor: the DPCM walk's
      |-- cumulative has the closed form S(n) = -1 unless n%3 = 2
      |lines AS (SELECT chunk_id, i, fi, seq, k, slot,
      |    100 + 4 * (2 + fi % 3)
      |      + 4 * ((CASE (fi + slot) % 3 WHEN 2 THEN 0 ELSE -1 END)
      |           - (CASE (fi + 2) % 3 WHEN 2 THEN 0 ELSE -1 END)) AS sf,
      |    list_extract([0, 1, 8, 27],
      |      CAST((fi * 5 + k * 7) % 4 + 1 AS INT)) AS m,
      |    CASE WHEN (k + fi) % 2 = 1 THEN -1 ELSE 1 END AS sgn
      |  FROM kall),
      |x AS (SELECT chunk_id, i, fi, seq, k, slot, sf,
      |    sgn * (CASE m WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 8 THEN 16
      |      ELSE 81 END)
      |    * CAST(power(2, (sf - 100) // 4) AS BIGINT) AS v
      |  FROM lines),
      |ker(seq, k, s1, s2, a1, a2, p1, p2) AS (VALUES ${p32KerLiteral}),
      |cur AS (SELECT x.chunk_id, x.i,
      |    SUM(x.v * kr.s1) AS cs, SUM(x.v * kr.a1) AS ca,
      |    SUM(x.v * kr.p1) AS cp,
      |    SUM(x.v * kr.s2) AS ts, SUM(x.v * kr.a2) AS ta,
      |    SUM(x.v * kr.p2) AS tp
      |  FROM x JOIN ker kr ON kr.seq = x.seq AND kr.k = x.k
      |  GROUP BY 1, 2),
      |sfslots AS (SELECT DISTINCT chunk_id, i, slot, sf FROM lines),
      |sfsum AS (SELECT chunk_id, i, SUM(sf) AS sf_sum FROM sfslots
      |  GROUP BY 1, 2),
      |specsum AS (SELECT chunk_id, i, SUM(abs(v)) AS spec_sum
      |  FROM x GROUP BY 1, 2)""".stripMargin

  private lazy val p32Sql = {
    p32Lattice + s"""
      |SELECT fr.chunk_id, CAST(fr.i AS BIGINT) AS i,
      |  CAST(fr.seq AS BIGINT) AS seq,
      |  CAST(sp.spec_sum AS BIGINT) AS spec_sum,
      |  CAST(sf2.sf_sum AS BIGINT) AS sf_sum,
      |  CAST(coalesce(c.cs, 0) + coalesce(pr.ts, 0) AS BIGINT)
      |    AS pcm_sum,
      |  CAST(coalesce(c.ca, 0) + coalesce(pr.ta, 0) AS BIGINT)
      |    AS pcm_alt,
      |  CAST(coalesce(c.cp, 0) + coalesce(pr.tp, 0) AS BIGINT) AS pcm0
      |FROM f fr
      |JOIN sfsum sf2 ON sf2.chunk_id = fr.chunk_id AND sf2.i = fr.i
      |JOIN specsum sp ON sp.chunk_id = fr.chunk_id AND sp.i = fr.i
      |LEFT JOIN cur c ON c.chunk_id = fr.chunk_id AND c.i = fr.i
      |LEFT JOIN cur pr ON pr.chunk_id = fr.chunk_id
      |  AND pr.i = fr.i - 1
      |ORDER BY fr.chunk_id, fr.i""".stripMargin
  }


  /** p33: MP3 STEREO DECODE TO PCM — p31's channel dimension and
    * p24's time-domain completion: two-channel Layer III frames
    * alternate plain stereo and joint MS stereo (§2.4.1.3 mode /
    * mode_extension, §2.4.3.4.9.2's l = m+s, r = m−s on the exact
    * √2-scaled grid, [[graft.sources.Mp3.msScaled]]); the MS
    * reconstruction composes the requantized spectra BEFORE the
    * filterbank, then each channel rides its OWN hybrid chain
    * (overlap store + polyphase register per channel —
    * [[graft.sources.Mp3Pcm.Hybrid.granuleSpectrum]]). The oracle
    * replays both channels' full lattices with the MS combine as a
    * join of the coded channels' line grids. */
  private def p33(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.{Mp3, Mp3Pcm}
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(6, count)
      val cubes = Array(0, 1, 8)
      def granule(fi: Int, gr: Int, ch: Int): Mp3.Granule = {
        val bv = 16 + (fi * 7 + gr * 3 + ch * 5) % 8
        val pairs = Vector.tabulate(bv) { pi =>
          def v(s2: Int): Int = {
            val idx = 2 * pi + s2
            val m = cubes((fi * 5 + idx * 7 + gr * 11 + ch * 13) % 3)
            if (m != 0 && (idx + fi + ch) % 2 == 1) -m else m
          }
          (v(0), v(1))
        }
        Mp3.Granule(pairs, Vector.empty,
          210 + 4 * ((fi + gr + ch) % 2), 0, (2, 18, 19), 1, 2,
          preflag = false, scalefacScale = false,
          scalefacs = Vector.fill(21)(0))
      }
      val frames = (0 until n).map { i =>
        val fi = i + cid.toInt * 7
        val mode = fi % 2
        Mp3.Mp3StereoFrame(14, 2, padding = i % 2 == 1, mode,
          if (mode == 1) 2 else 0,
          Vector.fill(2)(Vector.fill(4)(false)),
          Vector.tabulate(2)(gr =>
            Vector.tabulate(2)(ch => granule(fi, gr, ch))))
      }
      val rec = Mp3.demuxStereo(Mp3.muxStereo(frames))
      require(rec.size == n, s"chunk $cid: stereo frame count drift")
      val hybrids = Array.fill(2)(new Mp3Pcm.Hybrid())
      rec.iterator.zipWithIndex.map { case ((_, f), i) =>
        var specL = 0L; var specR = 0L
        var pcmL = 0L; var pcmR = 0L
        var pcm0L = 0L; var pcm0R = 0L
        (0 until 2).foreach { gr =>
          val x0 = Mp3Pcm.dequantGranule(f.granules(gr)(0))
          val x1 = Mp3Pcm.dequantGranule(f.granules(gr)(1))
          val (xl, xr) =
            if (f.mode == 1 && (f.modeExt & 2) != 0) {
              val l = Array.tabulate(32, 18)((sb, k) =>
                x0(sb)(k) + x1(sb)(k))
              val r = Array.tabulate(32, 18)((sb, k) =>
                x0(sb)(k) - x1(sb)(k))
              (l, r)
            } else (x0, x1)
          specL += xl.iterator.flatten.map(math.abs).sum
          specR += xr.iterator.flatten.map(math.abs).sum
          val outL = hybrids(0).granuleSpectrum(xl, None)
          val outR = hybrids(1).granuleSpectrum(xr, None)
          pcmL += outL.sum; pcmR += outR.sum
          if (gr == 0) { pcm0L = outL(0); pcm0R = outR(0) }
        }
        (cid, i.toLong, f.mode.toLong, specL, specR,
          pcmL, pcmR, pcm0L, pcm0R)
      }
    }.toDF("chunk_id", "i", "mode", "spec_l", "spec_r",
        "pcm_sum_l", "pcm_sum_r", "pcm0_l", "pcm0_r")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p33Sql =
    s"""${clickCnt(6)}
      |f AS (SELECT chunk_id, g.i, g.i + chunk_id * 7 AS fi,
      |    (g.i + chunk_id * 7) % 2 AS mode
      |  FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |-- per (granule, coded channel) lines on the exact grid
      |lines AS (SELECT fr.chunk_id, fr.i, fr.fi, fr.mode, g.gr, ch.ch,
      |    v.idx // 18 AS sb, v.idx % 18 AS k,
      |    (CASE WHEN (v.idx + fr.fi + ch.ch) % 2 = 1 THEN -1 ELSE 1 END)
      |    * (CASE list_extract([0, 1, 8],
      |        CAST((fr.fi * 5 + v.idx * 7 + g.gr * 11 + ch.ch * 13) % 3
      |          + 1 AS INT))
      |       WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 16 END)
      |    * CAST(power(2, (fr.fi + g.gr + ch.ch) % 2) AS BIGINT) AS x
      |  FROM f fr, (SELECT unnest(range(2)) AS gr) g,
      |    (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(48)) AS idx) v
      |  WHERE v.idx < 2 * (16 + (fr.fi * 7 + g.gr * 3 + ch.ch * 5) % 8)),
      |xs AS (SELECT chunk_id, i, gr, ch, sb, k, SUM(x) AS x
      |  FROM lines GROUP BY 1, 2, 3, 4, 5, 6),
      |-- §2.4.3.4.9.2 MS combine on the line grid, then the §2.4.3.4.10
      |-- butterflies over sb 0..3 (inputs reach sb 2, alias sb 3)
      |grid AS (SELECT fr.chunk_id, fr.i, fr.mode, g.gr, ch.ch,
      |    sbv.sb, kv.k
      |  FROM f fr, (SELECT unnest(range(2)) AS gr) g,
      |    (SELECT unnest(range(2)) AS ch) ch,
      |    (SELECT unnest(range(4)) AS sb) sbv,
      |    (SELECT unnest(range(18)) AS k) kv),
      |comb AS (SELECT g.chunk_id, g.i, g.gr, g.ch, g.sb, g.k,
      |    CASE WHEN g.mode = 1 THEN
      |      CASE g.ch WHEN 0 THEN coalesce(m.x, 0) + coalesce(sd.x, 0)
      |        ELSE coalesce(m.x, 0) - coalesce(sd.x, 0) END
      |    ELSE coalesce(own.x, 0) END AS x
      |  FROM grid g
      |  LEFT JOIN xs own ON own.chunk_id = g.chunk_id AND own.i = g.i
      |    AND own.gr = g.gr AND own.ch = g.ch AND own.sb = g.sb
      |    AND own.k = g.k
      |  LEFT JOIN xs m ON m.chunk_id = g.chunk_id AND m.i = g.i
      |    AND m.gr = g.gr AND m.ch = 0 AND m.sb = g.sb AND m.k = g.k
      |  LEFT JOIN xs sd ON sd.chunk_id = g.chunk_id AND sd.i = g.i
      |    AND sd.gr = g.gr AND sd.ch = 1 AND sd.sb = g.sb
      |    AND sd.k = g.k),
      |xa AS (SELECT a.chunk_id, a.i, a.gr, a.ch, a.sb, a.k,
      |    CASE
      |      WHEN a.k >= 10 AND a.sb + 1 <= 31 THEN
      |        list_extract(${graft.sources.Mp3Pcm.CsQ.mkString("[", ",", "]")},
      |          CAST(17 - a.k + 1 AS INT)) * a.x
      |        - list_extract(${graft.sources.Mp3Pcm.CaQ.mkString("[", ",", "]")},
      |          CAST(17 - a.k + 1 AS INT)) * coalesce(up.x, 0)
      |      WHEN a.k <= 7 AND a.sb >= 1 THEN
      |        list_extract(${graft.sources.Mp3Pcm.CaQ.mkString("[", ",", "]")},
      |          CAST(a.k + 1 AS INT)) * coalesce(dn.x, 0)
      |        + list_extract(${graft.sources.Mp3Pcm.CsQ.mkString("[", ",", "]")},
      |          CAST(a.k + 1 AS INT)) * a.x
      |      ELSE 1024 * a.x END AS v
      |  FROM comb a
      |  LEFT JOIN comb up ON up.chunk_id = a.chunk_id AND up.i = a.i
      |    AND up.gr = a.gr AND up.ch = a.ch AND up.sb = a.sb + 1
      |    AND up.k = 17 - a.k
      |  LEFT JOIN comb dn ON dn.chunk_id = a.chunk_id AND dn.i = a.i
      |    AND dn.gr = a.gr AND dn.ch = a.ch AND dn.sb = a.sb - 1
      |    AND dn.k = 17 - a.k),
      |mm(bt, j, k, v) AS (VALUES ${p31MLiteral}),
      |cur AS (SELECT a.chunk_id, a.ch, 2 * a.i + a.gr AS gabs, a.i,
      |    a.sb, m.j, SUM(m.v * a.v) AS v
      |  FROM xa a
      |  JOIN mm m ON m.k = a.k AND m.bt = 0
      |  WHERE a.v != 0
      |  GROUP BY 1, 2, 3, 4, 5, 6),
      |sgrid AS (SELECT g.chunk_id, chv.ch, gv.gabs, sbv.sb, tv.t,
      |    18 * gv.gabs + tv.t AS s
      |  FROM c g
      |  JOIN (SELECT unnest(range(12)) AS gabs) gv ON gv.gabs < 2 * g.n
      |  CROSS JOIN (SELECT unnest(range(2)) AS ch) chv
      |  CROSS JOIN (SELECT unnest(range(4)) AS sb) sbv
      |  CROSS JOIN (SELECT unnest(range(18)) AS t) tv),
      |slots AS (SELECT sg.chunk_id, sg.ch, sg.gabs, sg.sb, sg.t, sg.s,
      |    (CASE WHEN sg.sb % 2 = 1 AND sg.t % 2 = 1 THEN -1 ELSE 1 END)
      |    * (coalesce(c0.v, 0) + coalesce(c1.v, 0)) AS v
      |  FROM sgrid sg
      |  LEFT JOIN cur c0 ON c0.chunk_id = sg.chunk_id AND c0.ch = sg.ch
      |    AND c0.gabs = sg.gabs AND c0.sb = sg.sb AND c0.j = sg.t
      |  LEFT JOIN cur c1 ON c1.chunk_id = sg.chunk_id AND c1.ch = sg.ch
      |    AND c1.gabs = sg.gabs - 1 AND c1.sb = sg.sb
      |    AND c1.j = sg.t + 18),
      |ck(sb, r, v) AS (VALUES ${p31CkLiteral}),
      |k0(sb, a, v) AS (VALUES ${p31K0Literal}),
      |pcm AS (SELECT sl.chunk_id, sl.ch, fr.i,
      |    SUM(sl.v * (ckhi.v - cklo.v)) AS pcm_sum
      |  FROM slots sl
      |  JOIN f fr ON fr.chunk_id = sl.chunk_id
      |    AND sl.s >= 36 * fr.i - 15 AND sl.s <= 36 * fr.i + 35
      |  JOIN ck ckhi ON ckhi.sb = sl.sb
      |    AND ckhi.r = least(15, 36 * fr.i + 35 - sl.s)
      |  JOIN ck cklo ON cklo.sb = sl.sb
      |    AND cklo.r = greatest(0, 36 * fr.i - sl.s) - 1
      |  GROUP BY 1, 2, 3),
      |pcm0 AS (SELECT sl.chunk_id, sl.ch, fr.i, SUM(sl.v * k.v) AS v
      |  FROM slots sl
      |  JOIN f fr ON fr.chunk_id = sl.chunk_id
      |    AND 36 * fr.i - sl.s BETWEEN 0 AND 15
      |  JOIN k0 k ON k.sb = sl.sb AND k.a = 36 * fr.i - sl.s
      |  GROUP BY 1, 2, 3),
      |specs AS (SELECT chunk_id, i, ch, SUM(abs(x)) AS v
      |  FROM comb GROUP BY 1, 2, 3)
      |SELECT fr.chunk_id, CAST(fr.i AS BIGINT) AS i,
      |  CAST(fr.mode AS BIGINT) AS mode,
      |  CAST(s0.v AS BIGINT) AS spec_l,
      |  CAST(s1.v AS BIGINT) AS spec_r,
      |  CAST(coalesce(p0.pcm_sum, 0) AS BIGINT) AS pcm_sum_l,
      |  CAST(coalesce(p1.pcm_sum, 0) AS BIGINT) AS pcm_sum_r,
      |  CAST(coalesce(z0.v, 0) AS BIGINT) AS pcm0_l,
      |  CAST(coalesce(z1.v, 0) AS BIGINT) AS pcm0_r
      |FROM f fr
      |JOIN specs s0 ON s0.chunk_id = fr.chunk_id AND s0.i = fr.i
      |  AND s0.ch = 0
      |JOIN specs s1 ON s1.chunk_id = fr.chunk_id AND s1.i = fr.i
      |  AND s1.ch = 1
      |LEFT JOIN pcm p0 ON p0.chunk_id = fr.chunk_id AND p0.i = fr.i
      |  AND p0.ch = 0
      |LEFT JOIN pcm p1 ON p1.chunk_id = fr.chunk_id AND p1.i = fr.i
      |  AND p1.ch = 1
      |LEFT JOIN pcm0 z0 ON z0.chunk_id = fr.chunk_id AND z0.i = fr.i
      |  AND z0.ch = 0
      |LEFT JOIN pcm0 z1 ON z1.chunk_id = fr.chunk_id AND z1.i = fr.i
      |  AND z1.ch = 1
      |ORDER BY fr.chunk_id, fr.i""".stripMargin


  /** p34: AC-3 SYNCFRAME INDEX + BSI ([[graft.sources.Ac3]], ATSC
    * A/52 §5.4) — the structural layer for the last audio codec the
    * reference names without one (its suite transcodes aac ↔ ac3,
    * tests/media/test_audio_codec.py:18-24): chunk-salted syncframes
    * cycle all eight acmod channel layouts with every
    * acmod-conditioned and optional BSI field exercised, round-trip
    * through real syncframe bytes (self-delimiting via the Table-5.18
    * seam, crc1 verified), and the oracle replays the variable frame
    * lengths (cumulative offsets), the exact BSI bit budget, and
    * every field from the draws. */
  private def p34(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.Ac3
    KernelGroups.countKernel(clickChunks(s, d)) { (cid, count) =>
      val n = math.min(8, count)
      def frame(fi: Int): Ac3.Ac3Frame = {
        val acmod = fi % 8
        val hasC = (acmod & 1) == 1 && acmod != 1
        val hasS = acmod >= 4
        val bsi = Ac3.Bsi(
          bsmod = fi % 8, acmod = acmod,
          cmixlev = if (hasC) fi % 3 else 0,
          surmixlev = if (hasS) (fi + 1) % 3 else 0,
          dsurmod = if (acmod == 2) fi % 3 else 0,
          lfeon = fi % 2 == 1,
          dialnorm = (fi * 7) % 32,
          compr = if (fi % 3 == 0) Some((fi * 11) % 256) else None,
          langcod = if (fi % 4 == 1) Some((fi * 13) % 256) else None,
          audprod = if (fi % 5 == 2) Some(((fi * 3) % 32, fi % 3))
            else None,
          dialnorm2 = if (acmod == 0) (fi * 5 + 3) % 32 else 0,
          copyrightb = fi % 2 == 0, origbs = fi % 3 == 1,
          timecod1 = if (fi % 2 == 0) Some((fi * 97) % 16384) else None,
          timecod2 = if (fi % 5 == 0) Some((fi * 53) % 16384) else None,
          addbsi = if (fi % 4 == 3)
            Array.tabulate(1 + fi % 5)(k => ((fi + k * 9) % 251).toByte)
          else Array.empty)
        Ac3.Ac3Frame(fi % 3, 10 + (fi * 3) % 20, bsi,
          Array.tabulate(24 + fi % 8)(k => ((fi * 3 + k * 7) % 251).toByte))
      }
      val frames = (0 until n).map(i => frame(i + cid.toInt * 7))
      val rec = Ac3.demux(Ac3.mux(frames))
      require(rec.size == n, s"chunk $cid: ac3 frame count drift")
      rec.iterator.zipWithIndex.map { case ((off, f), i) =>
        val b = f.bsi
        val optMask = (if (b.compr.isDefined) 1L else 0L) |
          (if (b.langcod.isDefined) 2L else 0L) |
          (if (b.audprod.isDefined) 4L else 0L) |
          (if (b.timecod1.isDefined) 8L else 0L) |
          (if (b.timecod2.isDefined) 16L else 0L) |
          (if (b.addbsi.nonEmpty) 32L else 0L)
        val fieldSum = b.dialnorm.toLong + b.dialnorm2 + b.cmixlev +
          b.surmixlev + b.dsurmod + b.bsmod +
          b.compr.getOrElse(0) + b.langcod.getOrElse(0) +
          b.audprod.map { case (m, r) => m + r }.getOrElse(0) +
          b.timecod1.getOrElse(0) + b.timecod2.getOrElse(0)
        (cid, i.toLong, off, f.frameLen.toLong,
          Ac3.Rates(f.fscod).toLong,
          (Ac3.acmodChannels(b.acmod) + (if (b.lfeon) 1 else 0)).toLong,
          b.acmod.toLong, optMask, fieldSum,
          b.addbsi.iterator.map(_ & 0xffL).sum,
          f.payload.iterator.map(_ & 0xffL).sum,
          f.payload.length.toLong)
      }
    }.toDF("chunk_id", "i", "offset", "frame_len", "rate", "channels",
        "acmod", "opt_mask", "field_sum", "addbsi_sum", "payload_sum",
        "payload_region")
      .orderBy(col("chunk_id"), col("i"))
  }

  private val p34Sql =
    s"""${clickCnt(8)}
      |f AS (SELECT chunk_id, g.i, g.i + chunk_id * 7 AS fi FROM c,
      |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS g(i)),
      |b AS (SELECT *, fi % 8 AS acmod, fi % 3 AS fscod,
      |    10 + (fi * 3) % 20 AS fsc,
      |    (fi % 8) % 2 = 1 AND fi % 8 != 1 AS has_c,
      |    fi % 8 >= 4 AS has_s,
      |    fi % 3 = 0 AS has_compr, fi % 4 = 1 AS has_lang,
      |    fi % 5 = 2 AS has_prod, fi % 2 = 0 AS has_tc1,
      |    fi % 5 = 0 AS has_tc2, fi % 4 = 3 AS has_add,
      |    CASE WHEN fi % 4 = 3 THEN 1 + fi % 5 ELSE 0 END AS addn,
      |    24 + fi % 8 AS payn
      |  FROM f),
      |len AS (SELECT *,
      |    2 * (64 + 24 * (fsc // 2)
      |      + CASE WHEN fscod = 1 THEN fsc % 2 ELSE 0 END) AS frame_len,
      |    -- BSI bit budget [§5.4.2]: fixed 5+3+3+1+1+1+1+1+1 = 17? —
      |    -- enumerate: bsid 5, bsmod 3, acmod 3, lfeon 1,
      |    -- copyrightb 1, origbs 1, tc flags 2, addbsie 1 = 17
      |    17
      |    + CASE WHEN has_c THEN 2 ELSE 0 END
      |    + CASE WHEN has_s THEN 2 ELSE 0 END
      |    + CASE WHEN acmod = 2 THEN 2 ELSE 0 END
      |    -- each BSI half: dialnorm 5 + 3 presence flags + payloads
      |    + (5 + 3 + CASE WHEN has_compr THEN 8 ELSE 0 END
      |       + CASE WHEN has_lang THEN 8 ELSE 0 END
      |       + CASE WHEN has_prod THEN 7 ELSE 0 END)
      |      * (CASE WHEN acmod = 0 THEN 2 ELSE 1 END)
      |    + CASE WHEN has_tc1 THEN 14 ELSE 0 END
      |    + CASE WHEN has_tc2 THEN 14 ELSE 0 END
      |    + CASE WHEN has_add THEN 6 + 8 * addn ELSE 0 END AS bsi_bits
      |  FROM b),
      |ofs AS (SELECT *, coalesce(sum(frame_len) OVER (
      |    PARTITION BY chunk_id ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS "offset"
      |  FROM len),
      |adds AS (SELECT l.chunk_id, l.i,
      |    sum((l.fi + k.k * 9) % 251) AS addbsi_sum
      |  FROM len l, (SELECT unnest(range(5)) AS k) k
      |  WHERE k.k < l.addn GROUP BY 1, 2),
      |pay AS (SELECT l.chunk_id, l.i,
      |    sum((l.fi * 3 + k.k * 7) % 251) AS payload_sum
      |  FROM len l, (SELECT unnest(range(32)) AS k) k
      |  WHERE k.k < l.payn GROUP BY 1, 2)
      |SELECT o.chunk_id, CAST(o.i AS BIGINT) AS i,
      |  CAST(o."offset" AS BIGINT) AS "offset",
      |  CAST(o.frame_len AS BIGINT) AS frame_len,
      |  CAST(list_extract([48000, 44100, 32000],
      |    CAST(o.fscod + 1 AS INT)) AS BIGINT) AS rate,
      |  CAST(list_extract([2, 1, 2, 3, 3, 4, 4, 5],
      |    CAST(o.acmod + 1 AS INT))
      |    + CASE WHEN o.fi % 2 = 1 THEN 1 ELSE 0 END AS BIGINT)
      |    AS channels,
      |  CAST(o.acmod AS BIGINT) AS acmod,
      |  CAST(CASE WHEN o.has_compr THEN 1 ELSE 0 END
      |    + CASE WHEN o.has_lang THEN 2 ELSE 0 END
      |    + CASE WHEN o.has_prod THEN 4 ELSE 0 END
      |    + CASE WHEN o.has_tc1 THEN 8 ELSE 0 END
      |    + CASE WHEN o.has_tc2 THEN 16 ELSE 0 END
      |    + CASE WHEN o.has_add THEN 32 ELSE 0 END AS BIGINT)
      |    AS opt_mask,
      |  CAST((o.fi * 7) % 32
      |    + CASE WHEN o.acmod = 0 THEN (o.fi * 5 + 3) % 32 ELSE 0 END
      |    + CASE WHEN o.has_c THEN o.fi % 3 ELSE 0 END
      |    + CASE WHEN o.has_s THEN (o.fi + 1) % 3 ELSE 0 END
      |    + CASE WHEN o.acmod = 2 THEN o.fi % 3 ELSE 0 END
      |    + o.fi % 8
      |    + CASE WHEN o.has_compr THEN (o.fi * 11) % 256 ELSE 0 END
      |    + CASE WHEN o.has_lang THEN (o.fi * 13) % 256 ELSE 0 END
      |    + CASE WHEN o.has_prod
      |        THEN (o.fi * 3) % 32 + o.fi % 3 ELSE 0 END
      |    + CASE WHEN o.has_tc1 THEN (o.fi * 97) % 16384 ELSE 0 END
      |    + CASE WHEN o.has_tc2 THEN (o.fi * 53) % 16384 ELSE 0 END
      |    AS BIGINT) AS field_sum,
      |  CAST(coalesce(a.addbsi_sum, 0) AS BIGINT) AS addbsi_sum,
      |  CAST(p.payload_sum AS BIGINT) AS payload_sum,
      |  -- 4 sync/crc bytes + the fscod/frmsizecod byte precede the BSI
      |  CAST(o.frame_len - 5 - (o.bsi_bits + 7) // 8 AS BIGINT)
      |    AS payload_region
      |FROM ofs o
      |LEFT JOIN adds a ON a.chunk_id = o.chunk_id AND a.i = o.i
      |JOIN pay p ON p.chunk_id = o.chunk_id AND p.i = o.i
      |ORDER BY o.chunk_id, o.i""".stripMargin

  val all: Seq[Q] = Seq(
    Q("p01_volume_meter", p01, Some(p01Sql)),
    Q("p02_activity_meter", p02, Some(p02Sql)),
    Q("p03_audio_mixer", p03, Some(p03Sql)),
    Q("p04_chunker", p04, Some(p04Sql)),
    Q("p05_fft_bins", p05, Some(p05Sql)), // exact: literal quantized twiddles
    Q("p06_padded_chunker", p06, Some(p06Sql)),
    Q("p07_mulaw_codec", p07, Some(p07Sql)),
    Q("p08_resample", p08, Some(p08Sql)),
    Q("p09_noise_gate", p09, Some(p09Sql)),
    Q("p10_adpcm_codec", p10, Some(p10Sql)),
    Q("p11_mdct_codec", p11, Some(p11Sql)),
    Q("p12_audio_fingerprint", p12, Some(p12Sql)),
    Q("p13_flac_codec", p13, Some(p13Sql)),
    Q("p14_gac_bitstream", p14, Some(p14Sql)),
    Q("p15_audio_frame_index", p15, Some(p15Sql)),
    Q("p16_opus_ogg_index", p16, Some(p16Sql)),
    Q("p17_mp2_subband_decode", p17, Some(p17Sql)),
    Q("p18_opus_continuity", p18, Some(p18Sql)),
    Q("p19_mp1_decode", p19, Some(p19Sql)),
    Q("p20_mp2_synthesis", p20, Some(p20Sql)),
    Q("p21_mp3_structure", p21, Some(p21Sql)),
    Q("p22_mp3_reservoir", p22, Some(p22Sql)),
    Q("p23_mp3_short_blocks", p23, Some(p23Sql)),
    Q("p24_mp3_stereo", p24, Some(p24Sql)),
    Q("p25_aac_structure", p25, Some(p25Sql)),
    Q("p26_aac_cpe", p26, Some(p26Sql)),
    Q("p27_aac_intensity", p27, Some(p27Sql)),
    Q("p28_aac_pns", p28, Some(p28Sql)),
    Q("p29_mp2_stereo", p29, Some(p29Sql)),
    Q("p30_mp1_stereo", p30, Some(p30Sql)),
    Q("p31_mp3_pcm", p31, Some(p31Sql)),
    Q("p32_aac_pcm", p32, Some(p32Sql)),
    Q("p33_mp3_stereo_pcm", p33, Some(p33Sql)),
    Q("p34_ac3_index", p34, Some(p34Sql)),
  )
}
