package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, chunk manifests, and a partition-level "decoder" — the
  * generalization of the reference's `TimestampChuckMessage` /
  * `MediaMessage` binary payloads (SURVEY §1.2,
  * /root/reference/streamtasks/message/types.py:1-21,
  * /root/reference/streamtasks/media/packet.py:6-36).
  *
  * The real media codecs aren't in this container, so the decode step
  * is a deterministic stand-in (length/frame-count/hash features), but
  * the Spark-side plumbing is real: binary columns, metadata structs,
  * a chunk manifest explode, and a typed mapPartitions decoder with a
  * one-decoder-instance-per-partition shape — exactly how a JavaCV/
  * ffmpeg kernel would be mounted (SURVEY §2.2 #27-30).
  *
  * Scale: payloads stay opaque bytes end to end (no driver collect);
  * the decoder is mapPartitions so per-partition setup cost (codec
  * open) amortizes across rows; metadata-only queries never touch
  * payload bytes after the scan projection.
  */
object MultimodalQueries {

  /** documents.text encoded as a binary payload column — the stand-in
    * for an image/audio blob, with its metadata struct. */
  private def payloads(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        col("text").cast(BinaryType).as("payload"))

  /** m01: binary payload + typed metadata struct (byte length, md5
    * checksum, modality tag, frame count at a fixed 64-byte "frame"
    * stride). */
  private def m01(s: SparkSession, d: String): DataFrame =
    payloads(s, d)
      .select(col("doc_id"), col("source"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        md5(col("payload")).as("checksum"),
        lit("text/utf-8").as("modality"),
        (length(col("payload")) / lit(64)).cast(LongType).as("n_frames"))
      .orderBy(col("doc_id"))

  private val m01Sql =
    """SELECT doc_id, source,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  'text/utf-8' AS modality,
      |  CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m02: chunk manifest — split each payload into 256-byte chunks
    * (the TimestampChuckMessage shape): one row per chunk with offset
    * and size. */
  private def m02(s: SparkSession, d: String): DataFrame = {
    val n = length(col("payload"))
    m01Chunks(payloads(s, d), n)
  }

  private def m01Chunks(df: DataFrame, n: org.apache.spark.sql.Column): DataFrame =
    df.select(col("doc_id"), n.as("n_bytes"),
        explode(sequence(lit(0L), ((n - 1) / 256).cast(LongType))).as("chunk"))
      .select(col("doc_id"), col("chunk").cast(LongType).as("chunk"),
        (col("chunk") * 256).cast(LongType).as("offset"),
        least(lit(256), col("n_bytes") - col("chunk") * 256).cast(LongType).as("size"))
      .orderBy(col("doc_id"), col("chunk"))

  private val m02Sql =
    """SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
      |  CAST(chunk * 256 AS BIGINT) AS offset,
      |  CAST(least(256, n_bytes - chunk * 256) AS BIGINT) AS size
      |FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |        unnest(generate_series(0, (octet_length(encode(text)) - 1) // 256)) AS chunk
      |      FROM documents)
      |ORDER BY doc_id, chunk""".stripMargin

  /** m03: partition-level decoder — a typed mapPartitions kernel that
    * "decodes" each payload into deterministic features. The decoder
    * instance (here a MessageDigest) is created once per partition,
    * the way a codec context would be. */
  private def m03(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    payloads(s, d)
      .select(col("doc_id"), col("payload"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .mapPartitions { rows =>
        // one "codec" per partition, like a real decoder context
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          digest.reset()
          val hex = digest.digest(payload).map("%02x".format(_)).mkString
          (id, payload.length.toLong, payload.length.toLong / 64, hex.substring(0, 8))
        }
      }(enc)
      .toDF("doc_id", "n_bytes", "n_frames", "head_hash")
      .orderBy(col("doc_id"))
  }

  private val m03Sql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n_frames,
      |  substr(md5(text), 1, 8) AS head_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** m05: the video-mixer alpha-composite (#23,
    * functions/ImageKernel.mergeImages — the C++ kernel's
    * `out = ((255−α)·out + α·src) div 255` fold) as oracle-checked
    * per-channel integer math. Clicks are layer-A "pixels", views
    * layer-B, paired per pipeline by rank; compositing starts on the
    * black canvas and applies A then B — exactly the kernel's layer
    * loop, which CodecSpec pins to this formula on byte frames. */
  private def m05(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.eventsMs(s, d)
    def layer(t: String, sa: String, aa: String) = {
      val w = Window.partitionBy(col("pipeline"))
        .orderBy(col("ts_ms"), col("event_id"))
      e.filter(col("event_type") === t)
        .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
          col("event_id"),
          (abs(floor(col("value") * 10).cast(LongType)) % 256).as(sa),
          (col("event_id") % 256).as(aa))
        .withColumn("k", row_number().over(w).cast(LongType) - 1)
        .drop("ts_ms", "event_id")
    }
    val a = layer("click", "s_a", "a_a")
    val b = layer("view", "s_b", "a_b")
    a.join(b, Seq("pipeline", "k"))
      .withColumn("cur1", expr("(a_a * s_a) div 255"))
      .withColumn("blended",
        expr("((255 - a_b) * cur1 + a_b * s_b) div 255"))
      .select(col("pipeline"), col("k"), col("s_a"), col("a_a"),
        col("s_b"), col("a_b"), col("blended"))
      .orderBy(col("pipeline"), col("k"))
  }

  private val m05Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, event_type,
      |    epoch_ms(ts) AS ts_ms, event_id,
      |    abs(CAST(floor(value * 10) AS BIGINT)) % 256 AS s,
      |    event_id % 256 AS a
      |  FROM events WHERE event_type IN ('click','view')),
      |la AS (SELECT pipeline, s AS s_a, a AS a_a,
      |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS k
      |  FROM e WHERE event_type = 'click'),
      |lb AS (SELECT pipeline, s AS s_b, a AS a_b,
      |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS k
      |  FROM e WHERE event_type = 'view'),
      |j AS (SELECT la.pipeline, la.k, s_a, a_a, s_b, a_b,
      |        (a_a * s_a) // 255 AS cur1
      |      FROM la JOIN lb ON la.pipeline = lb.pipeline AND la.k = lb.k)
      |SELECT pipeline, k, s_a, a_a, s_b, a_b,
      |  ((255 - a_b) * cur1 + a_b * s_b) // 255 AS blended
      |FROM j ORDER BY pipeline, k""".stripMargin

  /** m06: the video-layout placement (#24, ImageKernel.layout /
    * videolayout.py:79-91): an 8×6 "frame" of per-pipeline click
    * values is nearest-neighbor-scaled to 12×9 and pasted at
    * (top=2, left=3) on a 20×15 canvas — `src = (y·inH div placeH,
    * x·inW div placeW)`, the kernel's exact integer mapping (pinned by
    * KernelSpec/CodecSpec on byte frames). Emits the placed pixels. */
  private def m06(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    val samples = graft.Tables.eventsMs(s, d)
      .filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        (abs(floor(col("value") * 10).cast(LongType)) % 256).as("v"))
      .withColumn("k", row_number().over(w).cast(LongType) - 1)
      .filter(col("k") < 48) // 8×6 frame
      .select(col("pipeline"), col("k"), col("v"))
    val grid = s.range(12L * 9)
      .select(expr("id div 12").as("y"), expr("id % 12").as("x"))
      .select(col("y"), col("x"),
        expr("y * 6 div 9").as("src_y"), expr("x * 8 div 12").as("src_x"))
      .withColumn("sk", expr("src_y * 8 + src_x"))
    samples.select(col("pipeline")).distinct()
      .crossJoin(broadcast(grid)) // 2 × 108 placement cells
      .join(samples.withColumnRenamed("k", "sk"), Seq("pipeline", "sk"))
      .select(col("pipeline"), (col("y") + 2).as("out_y"),
        (col("x") + 3).as("out_x"), col("src_y"), col("src_x"), col("v"))
      .orderBy(col("pipeline"), col("out_y"), col("out_x"))
  }

  private val m06Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id, abs(CAST(floor(value * 10) AS BIGINT)) % 256 AS v
      |  FROM events WHERE event_type = 'click'),
      |samples AS (SELECT pipeline, v,
      |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS k
      |  FROM e QUALIFY k < 48),
      |grid0 AS (SELECT unnest(range(0, 108)) AS id),
      |grid AS (SELECT id // 12 AS y, id % 12 AS x,
      |    (id // 12) * 6 // 9 AS src_y, (id % 12) * 8 // 12 AS src_x
      |  FROM grid0),
      |cells AS (SELECT p.pipeline, g.y, g.x, g.src_y, g.src_x,
      |    g.src_y * 8 + g.src_x AS sk
      |  FROM (SELECT DISTINCT pipeline FROM samples) p, grid g)
      |SELECT c.pipeline, c.y + 2 AS out_y, c.x + 3 AS out_x,
      |  c.src_y, c.src_x, s.v
      |FROM cells c JOIN samples s ON s.pipeline = c.pipeline AND s.k = c.sk
      |ORDER BY c.pipeline, out_y, out_x""".stripMargin

  /** m07: CTC greedy decoding — the decode step of every CTC ASR head
    * (#34; the model forward pass stays a mapPartitions mount like
    * m03, but argmax → collapse-repeats → drop-blanks is pure
    * relational math). Frames are per-pipeline click events; the
    * 4-class "logits" are deterministic integers; class 0 is the
    * blank. A frame survives iff its class differs from the previous
    * frame's (lag) and is not blank. */
  private def m07(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    def score(c: Int) =
      (floor(col("value") * 100).cast(LongType) * (c + 3)
        + col("event_id") * (c + 1)) % 97
    val frames = graft.Tables.eventsMs(s, d)
      .filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        score(0).as("s0"), score(1).as("s1"),
        score(2).as("s2"), score(3).as("s3"))
      .withColumn("frame", row_number().over(w).cast(LongType) - 1)
      // argmax with ties to the lowest class id
      .withColumn("cls",
        when(col("s0") >= col("s1") && col("s0") >= col("s2")
          && col("s0") >= col("s3"), 0L)
          .when(col("s1") >= col("s2") && col("s1") >= col("s3"), 1L)
          .when(col("s2") >= col("s3"), 2L).otherwise(3L))
    val fw = Window.partitionBy(col("pipeline")).orderBy(col("frame"))
    frames
      .withColumn("prev", lag(col("cls"), 1, -1L).over(fw))
      .filter(col("cls") =!= col("prev") && col("cls") =!= 0)
      .select(col("pipeline"), col("frame"), col("cls"))
      .orderBy(col("pipeline"), col("frame"))
  }

  private val m07Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id,
      |    (CAST(floor(value * 100) AS BIGINT) * 3 + event_id * 1) % 97 AS s0,
      |    (CAST(floor(value * 100) AS BIGINT) * 4 + event_id * 2) % 97 AS s1,
      |    (CAST(floor(value * 100) AS BIGINT) * 5 + event_id * 3) % 97 AS s2,
      |    (CAST(floor(value * 100) AS BIGINT) * 6 + event_id * 4) % 97 AS s3
      |  FROM events WHERE event_type = 'click'),
      |f AS (SELECT *,
      |    CAST(row_number() OVER (PARTITION BY pipeline ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS frame,
      |    CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
      |         WHEN s1 >= s2 AND s1 >= s3 THEN 1
      |         WHEN s2 >= s3 THEN 2 ELSE 3 END AS cls
      |  FROM e),
      |c AS (SELECT *, lag(cls, 1, -1) OVER (PARTITION BY pipeline ORDER BY frame) AS prev
      |      FROM f)
      |SELECT pipeline, frame, CAST(cls AS BIGINT) AS cls
      |FROM c WHERE cls <> prev AND cls <> 0
      |ORDER BY pipeline, frame""".stripMargin

  /** m08: the FastSpeech2 length regulator (#35) — expand each token
    * to `duration` output frames at its cumulative offset; the core
    * non-NN operator of the TTS pipeline (durations would come from
    * the predictor head; here a deterministic stand-in 1-3). Window
    * cumsum for offsets + one explode: fully relational, no state. */
  private def m08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    val toks = graft.Tables.eventsMs(s, d)
      .filter(col("event_type") === "view")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        (abs(floor(col("value") * 10).cast(LongType)) % 50).as("phoneme"),
        (col("event_id") % 3 + 1).as("dur"))
      .withColumn("tok", row_number().over(w).cast(LongType) - 1)
      .withColumn("off",
        coalesce(sum(col("dur")).over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
    toks
      .select(col("pipeline"), col("tok"), col("phoneme"), col("off"),
        explode(sequence(lit(0L), col("dur") - 1)).as("k"))
      .select(col("pipeline"), col("tok"), col("phoneme"),
        (col("off") + col("k")).as("frame"))
      .orderBy(col("pipeline"), col("frame"))
  }

  private val m08Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id,
      |    abs(CAST(floor(value * 10) AS BIGINT)) % 50 AS phoneme,
      |    event_id % 3 + 1 AS dur
      |  FROM events WHERE event_type = 'view'),
      |t AS (SELECT *,
      |    CAST(row_number() OVER w - 1 AS BIGINT) AS tok,
      |    CAST(COALESCE(sum(dur) OVER (PARTITION BY pipeline
      |      ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM e WINDOW w AS (PARTITION BY pipeline ORDER BY ts_ms, event_id))
      |SELECT pipeline, tok, phoneme, off + unnest(range(0, dur)) AS frame
      |FROM t ORDER BY pipeline, frame""".stripMargin

  /** m09: the inter-frame delta codec (#27/28, Codec.Delta —
    * videoencoder.py's keyframe/P-frame structure, packet.py:6-36's
    * `is_keyframe`): per-pipeline click "pixels" form the frame
    * sequence; every 4th frame is a keyframe storing the raw value,
    * P-frames store (v − prev) mod 256, and the decoder reconstructs
    * by folding stored deltas from the group's keyframe. `recon`
    * must hash-equal `v` — encode∘decode = id proven in both
    * engines (CodecSpec pins the byte-array kernel to this math). */
  private def m09(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    val frames = graft.Tables.eventsMs(s, d)
      .filter(col("event_type") === "click")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        (abs(floor(col("value") * 10).cast(LongType)) % 256).as("v"))
      .withColumn("k", row_number().over(w).cast(LongType) - 1)
      .withColumn("key_group", expr("k div 4"))
      .withColumn("is_key", (col("k") % 4 === 0).cast(LongType))
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("stored",
        when(col("is_key") === 1, col("v"))
          .otherwise((((col("v") - col("prev")) % 256) + 256) % 256))
    val wg = Window.partitionBy(col("pipeline"), col("key_group"))
      .orderBy(col("k"))
    frames
      .withColumn("recon",
        (first(col("v")).over(wg) +
          coalesce(sum(when(col("is_key") === 1, 0L)
            .otherwise(col("stored"))).over(wg.rowsBetween(
              Window.unboundedPreceding, Window.currentRow)), lit(0L)))
          % 256)
      .select(col("pipeline"), col("k"), col("key_group"), col("is_key"),
        col("stored"), col("v"), col("recon"))
      .orderBy(col("pipeline"), col("k"))
  }

  private val m09Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id, abs(CAST(floor(value * 10) AS BIGINT)) % 256 AS v
      |  FROM events WHERE event_type = 'click'),
      |f AS (SELECT *,
      |    CAST(row_number() OVER w - 1 AS BIGINT) AS k,
      |    lag(v, 1) OVER w AS prev
      |  FROM e WINDOW w AS (PARTITION BY pipeline ORDER BY ts_ms, event_id)),
      |g AS (SELECT pipeline, k, k // 4 AS key_group,
      |    CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS is_key, v,
      |    CASE WHEN k % 4 = 0 THEN v
      |         ELSE ((v - prev) % 256 + 256) % 256 END AS stored
      |  FROM f)
      |SELECT pipeline, k, key_group, CAST(is_key AS BIGINT) AS is_key,
      |  CAST(stored AS BIGINT) AS stored, v,
      |  CAST((first_value(v) OVER wg +
      |    COALESCE(sum(CASE WHEN is_key = 1 THEN 0 ELSE stored END)
      |      OVER (PARTITION BY pipeline, key_group ORDER BY k
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0))
      |    % 256 AS BIGINT) AS recon
      |FROM g
      |WINDOW wg AS (PARTITION BY pipeline, key_group ORDER BY k)
      |ORDER BY pipeline, k""".stripMargin

  /** m10: the video reformatter's pixel-format conversions (#26,
    * videoreformatter.py:39-54, media/video.py:130-149) as
    * oracle-checked integer math: BT.601 integer luma (RGBA → GRAY8),
    * RGB565 packing (the bit-packed format change; expressed as
    * exact mul/div so both engines agree), and alpha premultiply —
    * the three conversion classes a reformatter performs. Byte-level
    * swizzles live in Codec.RgbaBgra. */
  private def m10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("pipeline"))
      .orderBy(col("ts_ms"), col("event_id"))
    graft.Tables.eventsMs(s, d)
      .filter(col("event_type") === "view")
      .select((col("user_id") % 2).as("pipeline"), col("ts_ms"),
        col("event_id"),
        (abs(floor(col("value") * 100).cast(LongType)) % 256).as("r"),
        (abs(floor(col("value") * 10).cast(LongType)) % 256).as("g"),
        ((col("event_id") * 7) % 256).as("b"),
        (col("event_id") % 256).as("a"))
      .withColumn("k", row_number().over(w).cast(LongType) - 1)
      .withColumn("gray", expr("(r * 299 + g * 587 + b * 114) div 1000"))
      .withColumn("rgb565",
        expr("(r div 8) * 2048 + (g div 4) * 32 + (b div 8)"))
      .withColumn("r_pre", expr("(r * a) div 255"))
      .select(col("pipeline"), col("k"), col("r"), col("g"), col("b"),
        col("a"), col("gray"), col("rgb565"), col("r_pre"))
      .orderBy(col("pipeline"), col("k"))
  }

  private val m10Sql =
    """WITH e AS (SELECT user_id % 2 AS pipeline, epoch_ms(ts) AS ts_ms,
      |    event_id,
      |    abs(CAST(floor(value * 100) AS BIGINT)) % 256 AS r,
      |    abs(CAST(floor(value * 10) AS BIGINT)) % 256 AS g,
      |    (event_id * 7) % 256 AS b,
      |    event_id % 256 AS a
      |  FROM events WHERE event_type = 'view'),
      |f AS (SELECT *,
      |    CAST(row_number() OVER (PARTITION BY pipeline
      |      ORDER BY ts_ms, event_id) - 1 AS BIGINT) AS k
      |  FROM e)
      |SELECT pipeline, k, r, g, b, a,
      |  (r * 299 + g * 587 + b * 114) // 1000 AS gray,
      |  (r // 8) * 2048 + (g // 4) * 32 + (b // 8) AS rgb565,
      |  (r * a) // 255 AS r_pre
      |FROM f ORDER BY pipeline, k""".stripMargin

  /** m11: frame sampling — the multimodal subsample step (take k
    * uniformly spaced frames per payload for feature extraction, the
    * video analogue of sentence sampling): sampled index f_j =
    * floor(j·(n−1)/(k−1)), the same integer nearest-grid mapping as
    * p08/m06, over m01's 64-byte framing; plus the every-4th-frame
    * stride count. Metadata-only — payload bytes are never touched,
    * the byte offsets are what a decoder mount would seek to. */
  private def m11(s: SparkSession, d: String): DataFrame = {
    val k = 8
    payloads(s, d)
      .select(col("doc_id"),
        (length(col("payload")) / lit(64)).cast(LongType).as("n"))
      .filter(col("n") >= k)
      .select(col("doc_id"), col("n"),
        expr("(n + 3) div 4").as("n_every4"),
        explode(sequence(lit(0L), lit(k - 1L))).as("j"))
      .withColumn("frame_idx", expr(s"j * (n - 1) div ${k - 1}"))
      .withColumn("byte_off", col("frame_idx") * 64)
      .select(col("doc_id"), col("j"), col("n").as("n_frames"),
        col("n_every4"), col("frame_idx"), col("byte_off"))
      .orderBy(col("doc_id"), col("j"))
  }

  private val m11Sql =
    """WITH p AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) // 64 AS BIGINT) AS n
      |  FROM documents),
      |f AS (SELECT doc_id, n, (n + 3) // 4 AS n_every4,
      |        unnest(range(0, 8)) AS j
      |      FROM p WHERE n >= 8)
      |SELECT doc_id, j, n AS n_frames, n_every4,
      |  j * (n - 1) // 7 AS frame_idx,
      |  (j * (n - 1) // 7) * 64 AS byte_off
      |FROM f ORDER BY doc_id, j""".stripMargin

  /** m12: the text renderer (#33, textrenderer.py:79-89) as an
    * oracle-checked raster. Each document's 2-digit label is rendered
    * through [[graft.functions.Renderer.renderDigits]] — the REAL
    * kernel path: blank rgb24 frame → 1-bit glyph grid → packed bytes
    * — on executors (mapPartitions over ids, like the m03 decoder
    * mount), then the frame is reduced to per-pixel-row ink metrics:
    * lit-pixel count, 1-based x-coordinate sum (placement), and
    * channel-byte sum (colour + byte packing). The oracle re-derives
    * the same metrics in SQL from the SAME 5×7 font table, inlined as
    * integer literals from `Renderer.digitFont` (single source of
    * truth, the p05 twiddle trick) — a hash match proves the glyph
    * rasterization, the (x, y) placement with per-doc offset, the
    * 6-px advance, and the rgb24 byte layout are all exact. */
  private def m12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
    ids.mapPartitions { it =>
      it.flatMap { id =>
        val frame = graft.functions.Renderer.renderDigits(
          f"${id % 100}%02d", 16, 9, (1 + id % 3).toInt, 1, 0xCC8833)
        (0 until 9).flatMap { yy =>
          var n = 0L; var xs = 0L; var cs = 0L
          var xx = 0
          while (xx < 16) {
            val o = (yy * 16 + xx) * 3
            if (frame(o) != 0) {
              n += 1; xs += xx + 1
              cs += (frame(o) & 0xff) + (frame(o + 1) & 0xff) +
                (frame(o + 2) & 0xff)
            }
            xx += 1
          }
          if (n > 0) Some((id, yy.toLong, n, xs, cs)) else None
        }
      }
    }.toDF("doc_id", "y", "ink_n", "ink_xsum", "chan_sum")
      .orderBy(col("doc_id"), col("y"))
  }

  private val fontValues: String =
    graft.functions.Renderer.digitFont.zipWithIndex.flatMap {
      case (rows, dg) => rows.zipWithIndex.map {
        case (m, r) => s"($dg,$r,$m)" }
    }.mkString(",")

  private val m12Sql =
    s"""WITH font(d, r, m) AS (VALUES $fontValues),
       |docs AS (SELECT doc_id, (doc_id % 100) // 10 AS dd1,
       |    doc_id % 10 AS dd2, 1 + doc_id % 3 AS x0
       |  FROM documents),
       |glyphs AS (SELECT doc_id, x0, dd1 AS d FROM docs
       |  UNION ALL SELECT doc_id, x0 + 6, dd2 FROM docs),
       |bits AS (SELECT g.doc_id, g.x0 + bs.b AS x, f.r + 1 AS y
       |  FROM glyphs g JOIN font f ON f.d = g.d
       |  CROSS JOIN (SELECT unnest(range(0, 5)) AS b) bs
       |  WHERE (f.m >> (4 - bs.b)) & 1 = 1)
       |SELECT doc_id, CAST(y AS BIGINT) AS y, count(*) AS ink_n,
       |  CAST(sum(x + 1) AS BIGINT) AS ink_xsum,
       |  CAST(count(*) * 391 AS BIGINT) AS chan_sum
       |FROM bits GROUP BY doc_id, y ORDER BY doc_id, y""".stripMargin

  // ---- m13: ViT patch-grid manifest ----------------------------------------
  /** Patch-grid manifest for transformer vision ingest: per image,
    * one row per 16×16 patch with its grid coordinates, pixel origin,
    * BYTE offset into the rgb24 payload, and sequence position id
    * (CLS = 0, patches from 1) — the manifest a GPU decode/embed
    * stage consumes so it can slice patches straight out of opaque
    * bytes without the JVM touching pixels (the m03 mapPartitions
    * mount reads exactly such offsets). Image dimensions are a
    * deterministic stand-in derived from doc_id (the real decoder
    * seam is documented at m01/m03): w = 32 + (id%7)·16,
    * h = 32 + (id%5)·16 — always patch-aligned, grids from 2×2 to
    * 8×6.
    *
    * Scale shape: projection + doc-local explode of gw·gh patch
    * indices — zero shuffles; the manifest is ~n_patches rows per
    * image and never materializes payload bytes. */
  private def m13(s: SparkSession, d: String): DataFrame =
    payloads(s, d)
      .select(col("doc_id"),
        (lit(32L) + (col("doc_id") % 7) * 16).as("w"),
        (lit(32L) + (col("doc_id") % 5) * 16).as("h"))
      .withColumn("gw", expr("w div 16"))
      .withColumn("gh", expr("h div 16"))
      .withColumn("patch", explode(sequence(lit(0L), col("gw") * col("gh") - 1)))
      // w (row stride = w*3 bytes) and the grid dims ride along so a
      // consumer can address every pixel row of a patch from ONE
      // manifest row: byte_offset + row_idx*w*3, row_idx ∈ 0..15
      // (round-5 advisor: offset alone only locates the top-left
      // pixel; without the stride the GPU stage can't step rows).
      .select(col("doc_id"), col("patch"),
        col("w"), col("gw"), col("gh"),
        (col("patch") % col("gw")).as("pcol"),
        expr("patch div gw").as("prow"),
        ((col("patch") % col("gw")) * 16).as("x0"),
        (expr("patch div gw") * 16).as("y0"),
        ((expr("patch div gw") * 16 * col("w") +
          (col("patch") % col("gw")) * 16) * 3).as("byte_offset"),
        (col("patch") + 1).as("pos_id"))
      .orderBy(col("doc_id"), col("patch"))

  private val m13Sql =
    """WITH dims AS (SELECT doc_id,
      |    CAST(32 + (doc_id % 7) * 16 AS BIGINT) AS w,
      |    CAST(32 + (doc_id % 5) * 16 AS BIGINT) AS h
      |  FROM documents),
      |g AS (SELECT doc_id, w, h, w // 16 AS gw, h // 16 AS gh FROM dims),
      |p AS (SELECT doc_id, w, gw, gh, unnest(range(gw * gh)) AS patch FROM g)
      |SELECT doc_id, patch, w, gw, gh,
      |  patch % gw AS pcol, patch // gw AS prow,
      |  (patch % gw) * 16 AS x0, (patch // gw) * 16 AS y0,
      |  ((patch // gw) * 16 * w + (patch % gw) * 16) * 3 AS byte_offset,
      |  patch + 1 AS pos_id
      |FROM p ORDER BY doc_id, patch""".stripMargin

  /** m14: the REAL JPEG codec ([[graft.functions.Codec.Jpeg]] —
    * javax.imageio, explicit fixed quality) under the oracle gate via
    * the reference's own inverse-transcode property
    * (tests/media/test_video_codec.py:14-43: decode(encode(x)) close
    * to x). Each selected event becomes a deterministic 16×16 rgb24
    * frame (8×8-blockwise-constant gray pattern seeded by frame id —
    * DCT-friendly on purpose: the property bounds reconstruction, not
    * entropy); one codec instance per partition (the mapPartitions
    * mount, as m03); the query emits the PSNR-bound verdict per
    * frame. The oracle pins the frame set and the property holding —
    * a codec regression (wrong quant scaling, channel swap, raster
    * order) flips `psnr_ok` and fails the hash, exactly how the
    * reference's property test would fail. Lossiness itself is
    * CodecSpec's to pin (encode is non-identity, bytes shrink). */
  private def m14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = 16
    Tables.eventsMs(s, d)
      .filter(col("event_type") === "click" && col("event_id") % 37 === 0)
      .select((col("user_id") % 2).as("pipeline"),
        col("event_id").as("frame_id"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val codec = graft.functions.Codec.Jpeg(W, W, 0.75f)
        it.map { case (p, fid) =>
          val raw = new Array[Byte](W * W * 3)
          var i = 0
          var y = 0
          while (y < W) {
            var x = 0
            while (x < W) {
              val v = (((x / 8 + 2 * (y / 8)).toLong + fid) * 37 % 200 + 28).toByte
              raw(i) = v; raw(i + 1) = v; raw(i + 2) = v
              i += 3; x += 1
            }
            y += 1
          }
          val dec = codec.decode(codec.encode(raw))
          var se = 0.0
          var j = 0
          while (j < raw.length) {
            val dlt = (raw(j) & 0xff) - (dec(j) & 0xff)
            se += dlt.toDouble * dlt; j += 1
          }
          val mse = se / raw.length
          val psnr = if (mse == 0) 99.0 else 10.0 * math.log10(255.0 * 255.0 / mse)
          (p, fid, W.toLong, W.toLong, psnr >= 30.0)
        }
      }
      .toDF("pipeline", "frame_id", "w", "h", "psnr_ok")
      .orderBy(col("pipeline"), col("frame_id"))
  }

  private val m14Sql =
    """SELECT user_id % 2 AS pipeline, event_id AS frame_id,
      |  CAST(16 AS BIGINT) AS w, CAST(16 AS BIGINT) AS h,
      |  true AS psnr_ok
      |FROM events WHERE event_type = 'click' AND event_id % 37 = 0
      |ORDER BY pipeline, frame_id""".stripMargin

  /** m15: the §2.4 ASR chain with REAL TRAINED WEIGHTS — the upgrade
    * from m03/m07's synthetic kernels. Each click event synthesizes an
    * 8-dim integer frame (class template + bounded hash noise, the
    * distribution [[graft.functions.AsrTiny]] was trained on); the
    * model — softmax regression genuinely trained by
    * scripts/train_asr.py, quantized ×1000 to exact integer logits —
    * rides the jar onto executors, scores every frame inside the
    * keyed-group fold (one lazy model load per JVM, the mapPartitions
    * amortization), and the greedy CTC collapse (drop repeats, then
    * blanks — m07's rule) emits the per-utterance transcript. The
    * DuckDB oracle recomputes the ENTIRE chain — features, integer
    * matmul against the same weight literals, argmax with the same
    * tie rule, collapse — so the hash gate certifies the weights
    * actually flowing through the distributed fold, not a stub.
    * Reference seam: inference/asrspeechrecognition.py:54-71 binds
    * speechbrain checkpoints at exactly this point. */
  private def m15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % 8).as("utt"), col("ts_ms"), col("event_id"),
        when(col("event_id") % 3 === 0, 0)
          .otherwise(col("event_id") % 5 + 1).cast(IntegerType).as("cls"))
      .as[(Long, Long, Long, Int)]
    KernelGroups.sortedKernel(e, "utt") { (utt, rows) =>
        val m = graft.functions.AsrTiny.model // from the jar, once per JVM
        val frames = rows.toVector
        val preds = frames.map { case (_, _, eid, cls) =>
          m.predict(graft.functions.AsrTiny.frameSynth(cls, eid))
        }
        val collapsed = preds.zipWithIndex
          .filter { case (p, i) => i == 0 || preds(i - 1) != p }
          .map(_._1).filter(_ != 0)
        collapsed.zipWithIndex.map { case (sym, i) =>
          (utt, (i + 1).toLong, sym.toLong) }.iterator
      }
      .toDF("utt", "pos", "sym")
      .orderBy(col("utt"), col("pos"))
  }

  private val m15Sql = {
    val m = graft.functions.AsrTiny.model
    s"""WITH e AS (SELECT user_id % 8 AS utt, epoch_ms(ts) AS ts_ms, event_id,
       |    CASE WHEN event_id % 3 = 0 THEN 0 ELSE event_id % 5 + 1 END AS cls
       |  FROM events WHERE event_type = 'click'),
       |f AS (SELECT utt, ts_ms, event_id, cls,
       |    unnest(generate_series(1, ${m.dim})) AS j FROM e),
       |x AS (SELECT utt, ts_ms, event_id, j,
       |    ${graft.functions.AsrTiny.synthXSql} AS x
       |  FROM f),
       |l AS (SELECT utt, ts_ms, event_id, k,
       |    ${graft.functions.AsrTiny.logitSql} AS logit
       |  FROM x CROSS JOIN (SELECT unnest(generate_series(1, ${m.classes})) AS k)
       |  GROUP BY utt, ts_ms, event_id, k),
       |pred AS (SELECT utt, ts_ms, event_id, k - 1 AS p FROM (
       |    SELECT *, row_number() OVER (PARTITION BY utt, ts_ms, event_id
       |      ORDER BY logit DESC, k) AS r FROM l) WHERE r = 1),
       |collapsed AS (SELECT utt, p,
       |    row_number() OVER (PARTITION BY utt ORDER BY ts_ms, event_id) AS fr,
       |    lag(p) OVER (PARTITION BY utt ORDER BY ts_ms, event_id) AS prev
       |  FROM pred)
       |SELECT utt, CAST(row_number() OVER (PARTITION BY utt ORDER BY fr)
       |    AS BIGINT) AS pos, CAST(p AS BIGINT) AS sym
       |FROM collapsed WHERE (prev IS NULL OR p <> prev) AND p <> 0
       |ORDER BY utt, pos""".stripMargin
  }

  // ---- m21: perceptual-hash image dedup ------------------------------------
  /** Image near-duplicate dedup by difference hash — the multimodal
    * side of the dedup family (LAION-style corpora dedup images by
    * pHash/dHash before training): each document's image is reduced
    * to a 63-bit dHash ([[graft.functions.ImageKernel.dhash]], REAL
    * byte math in the m12 mapPartitions kernel mount), signatures are
    * banded 7×9 bits, candidates are same-(band,value) pairs
    * (pigeonhole: hamming ≤ 6 over 7 bands guarantees an intact
    * band — d04's SimHash mechanism pointed at pixels), verified by
    * exact hamming distance (bit_count(xor)), and every document gets
    * a keep/drop verdict (canonical = smallest id among its verified
    * neighbors — the d16 shape).
    *
    * The images are the documented decode-seam stand-in
    * ([[graft.functions.ImageKernel.synthGray]]): base photo per
    * id div 16, 16 variants per base differing by one brightened
    * pixel — a controlled near-dup population (same-base pairs within
    * hamming 4, distinct bases ~half the bits apart), so both the
    * match and the non-match paths of the verifier demonstrably fire.
    *
    * Scale shape: hashing is one mapPartitions pass over payloads
    * (the decode mount — at 100 TB the ONLY stage that touches image
    * bytes); everything downstream operates on 8-byte signatures.
    * Banding shuffles 7 rows per image; candidate pairs are bounded
    * by same-band bucket sizes — the band width is the bucket-size
    * knob and scales with log n exactly like s02's plane count (at
    * this fixture's scale 9-bit bands keep buckets single-digit);
    * verification is pair-local integer math. */
  private def m21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, d).select(col("doc_id")).as[Long]
    val ph = ids.mapPartitions { it =>
      it.map { id =>
        (id, graft.functions.ImageKernel.dhash(
          graft.functions.ImageKernel.synthGray(id)))
      }
    }.toDF("doc_id", "phash")
    // Candidates from two BOUNDED sources — the m23-measured lesson
    // applied consistently (an uncapped 9-bit band join saturates near
    // 2⁹·bands items and goes ~n²/512 past it): same-shoot blocking
    // (base = doc_id div 16, ≤C(16,2) pairs per base — where synthGray
    // puts the true near-dups) plus the banded path under d02's
    // overflow-bucket drop. At the registered SFs the output is
    // hash-identical to the uncapped formulation (no bucket overflows;
    // banding already found every same-base pair).
    val withBase = ph.withColumn("base", expr("doc_id div 16"))
    val local = withBase.as("a").join(withBase.as("b"),
        col("a.base") === col("b.base") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val bands = ph.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(6))).as("b"))
      .select(col("doc_id"), col("b"),
        expr("shiftright(phash, CAST(b * 9 AS INT)) & 511").as("bv"))
    val okBuckets = bands.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= DedupQueries.LshBucketCap)
      .select(col("b"), col("bv"))
    val capped = bands.join(okBuckets, Seq("b", "bv"))
    val banded = capped.as("a").join(capped.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cand = local.unionByName(banded).distinct()
    val ver = cand
      .join(ph.select(col("doc_id").as("id_a"), col("phash").as("pa")), "id_a")
      .join(ph.select(col("doc_id").as("id_b"), col("phash").as("pb")), "id_b")
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast(LongType))
      .filter(col("hamming") <= 6)
    val nbrs = ver.select(col("id_a").as("doc_id"), col("id_b").as("nbr"))
      .union(ver.select(col("id_b").as("doc_id"), col("id_a").as("nbr")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"), min(col("nbr")).as("min_nbr"))
    ph.join(nbrs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("phash"),
        coalesce(col("n_neighbors"), lit(0L)).cast(LongType).as("n_neighbors"),
        least(col("doc_id"), coalesce(col("min_nbr"), col("doc_id")))
          .cast(LongType).as("rep_id"))
      .withColumn("is_canonical",
        (col("rep_id") === col("doc_id")).cast(LongType))
      .orderBy(col("doc_id"))
  }

  private val m21Sql =
    s"""WITH px AS (SELECT doc_id, x, y,
      |    CAST(concat('0x', substr(md5(
      |      'g' || (doc_id // 16) || '_' || x || '_' || y), 1, 2)) AS BIGINT)
      |    + CASE WHEN y = 0 AND x = (doc_id % 16) % 9 THEN 40 ELSE 0 END AS v
      |  FROM documents,
      |    (SELECT unnest(range(9)) AS x), (SELECT unnest(range(8)) AS y)),
      |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS idx
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 8 AND a.y * 8 + a.x < 63 AND b.v > a.v),
      |ph AS (SELECT d.doc_id,
      |    CAST(coalesce(s.h, 0) AS BIGINT) AS phash
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, SUM(CAST(1 AS BIGINT) << idx) AS h
      |    FROM bits GROUP BY doc_id) s USING (doc_id)),
      |loc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM ph a JOIN ph b ON a.doc_id // 16 = b.doc_id // 16
      |    AND a.doc_id < b.doc_id),
      |bands AS (SELECT doc_id, b, (phash >> (b * 9)) & 511 AS bv
      |  FROM ph, (SELECT unnest(range(7)) AS b)),
      |capped AS (SELECT bands.* FROM bands
      |  JOIN (SELECT b, bv FROM bands GROUP BY b, bv
      |        HAVING count(*) <= ${DedupQueries.LshBucketCap}) ok USING (b, bv)),
      |cand AS (SELECT DISTINCT id_a, id_b FROM (
      |  SELECT id_a, id_b FROM loc
      |  UNION ALL
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM capped a JOIN capped b ON a.b = b.b AND a.bv = b.bv
      |    AND a.doc_id < b.doc_id)),
      |ver AS (SELECT id_a, id_b
      |  FROM cand JOIN ph pa ON pa.doc_id = id_a
      |            JOIN ph pb ON pb.doc_id = id_b
      |  WHERE bit_count(xor(pa.phash, pb.phash)) <= 6),
      |nbrs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_neighbors,
      |    min(nbr) AS min_nbr
      |  FROM (SELECT id_a AS doc_id, id_b AS nbr FROM ver
      |        UNION ALL SELECT id_b, id_a FROM ver)
      |  GROUP BY doc_id)
      |SELECT p.doc_id, p.phash,
      |  CAST(coalesce(n.n_neighbors, 0) AS BIGINT) AS n_neighbors,
      |  CAST(least(p.doc_id, coalesce(n.min_nbr, p.doc_id)) AS BIGINT)
      |    AS rep_id,
      |  CAST(least(p.doc_id, coalesce(n.min_nbr, p.doc_id)) = p.doc_id
      |    AS BIGINT) AS is_canonical
      |FROM ph p LEFT JOIN nbrs n USING (doc_id)
      |ORDER BY p.doc_id""".stripMargin

  // ---- m22: scene detection (frame-difference segmentation) ---------------
  /** Shot/scene segmentation by frame-difference thresholding — the
    * standard first stage of video chunking for multimodal training
    * data (PySceneDetect's ContentDetector shape: per-frame luma
    * statistic, cut where |Δ| exceeds a threshold, scenes = runs
    * between cuts; reference analog: the video activity meter,
    * SURVEY §2 #22 — `bgr_to_gray` + `absdiff` per frame pair — whose
    * running diff this turns into segment boundaries). Payload frames
    * are the m01/m11 convention (consecutive 64-byte slices of the
    * document payload); the frame statistic is the exact byte sum, so
    * every engine computes the identical integer and the cut decision
    * is hash-stable. Threshold 200 ≈ the fixture's p85 inter-frame
    * delta (measured: median 99, p90 228).
    *
    * Scale: frame explosion is bounded (len/64 rows per doc), the luma
    * is a row-local codegen'd higher-order aggregate (no per-byte row
    * blowup on the Spark side — 64 bytes fold inside one expression),
    * and both windows partition by doc_id — per-partition state is one
    * doc's frames. One shuffle on doc_id carries (doc, frame, luma)
    * triples, never payload bytes; the scene rollup rides the same
    * partitioning (no second exchange). */
  /** Scene table shared by m22 (which publishes it) and m23 (which
    * composes on it): (doc_id, scene_id, start_f, end_f, n_frames,
    * luma_sum), unordered. */
  private[graft] def scenesOf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = Tables.documents(s, d)
      .filter(length(col("text")) >= 128)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          (length(col("text")) / lit(64)).cast(LongType) - 1)).as("f"))
      .withColumn("luma", expr(
        """aggregate(sequence(1, 64), CAST(0 AS BIGINT),
          |  (acc, j) -> acc + ascii(substring(text, CAST(f*64 AS INT) + j, 1)))"""
          .stripMargin))
      .drop("text")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("f"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = frames
      .withColumn("dl", abs(col("luma") - lag(col("luma"), 1).over(w)))
      .withColumn("cut",
        (col("dl").isNull || col("dl") > 200).cast(LongType))
      .withColumn("scene_id", (sum(col("cut")).over(run) - 1).cast(LongType))
    cuts.groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("f")).cast(LongType).as("start_f"),
        max(col("f")).cast(LongType).as("end_f"),
        count(lit(1)).cast(LongType).as("n_frames"),
        sum(col("luma")).cast(LongType).as("luma_sum"))
  }

  private def m22(s: SparkSession, d: String): DataFrame =
    scenesOf(s, d).orderBy(col("doc_id"), col("scene_id"))

  /** Scene-table CTE chain shared by the m22 and m23 oracles; ends in
    * `scenes(doc_id, scene_id, start_f, end_f, n_frames, luma_sum)`. */
  private val scenesCtes =
    """fr AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, CAST(length(text) // 64 AS BIGINT))) AS f
      |  FROM documents WHERE length(text) >= 128),
      |f AS (
      |  SELECT doc_id, f,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> ascii(substr(text, CAST(f*64 AS INT) + CAST(j AS INT), 1))))
      |      AS BIGINT) AS luma
      |  FROM fr),
      |cuts AS (
      |  SELECT doc_id, f, luma,
      |    CASE WHEN abs(luma - lag(luma) OVER w) IS NULL
      |           OR abs(luma - lag(luma) OVER w) > 200
      |         THEN 1 ELSE 0 END AS cut
      |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
      |sc AS (
      |  SELECT doc_id, f, luma,
      |    SUM(cut) OVER (PARTITION BY doc_id ORDER BY f
      |      ROWS UNBOUNDED PRECEDING) - 1 AS scene_id
      |  FROM cuts),
      |scenes AS (
      |  SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
      |    CAST(min(f) AS BIGINT) AS start_f, CAST(max(f) AS BIGINT) AS end_f,
      |    CAST(count(*) AS BIGINT) AS n_frames,
      |    CAST(sum(luma) AS BIGINT) AS luma_sum
      |  FROM sc GROUP BY doc_id, scene_id)""".stripMargin

  private val m22Sql =
    s"""WITH $scenesCtes
       |SELECT doc_id, scene_id, start_f, end_f, n_frames, luma_sum
       |FROM scenes ORDER BY doc_id, scene_id""".stripMargin

  // ---- m23: composed video-curation pipeline ------------------------------
  /** The video-data curation deployment in ONE declarative plan —
    * segment → keyframe → perceptual-hash dedup → keep/drop manifest,
    * the multimodal-LLM data shape (segment long videos into shots,
    * keep one representative keyframe per distinct shot, drop repeated
    * shots): m22's scene segmentation feeds a middle-frame keyframe
    * per scene; each keyframe decodes through the m21 kernel mount
    * (synthGray: keyframes of the SAME video share a base image and
    * differ by a local edit — consecutive shots of one recording look
    * alike — while cross-video keyframes are independent noise);
    * dHash signatures then run the m21 banded-hamming near-dup
    * (7×9-bit pigeonhole bands, exact bit_count verify ≤6) and a
    * d16-style keep verdict marks each scene's keyframe keep/drop.
    *
    * Scale: scenes ≪ frames (the segmentation rollup bounds the
    * composed tail — everything after it is |scenes|-sized); the hash
    * mount is row-local mapPartitions on the DISTINCT keyframe ids.
    * Candidates come from TWO bounded sources (measured lesson — the
    * first cut ran the m21 band join uncapped, and the ×10 curve
    * corpus put 66k keyframes into 7×512 band buckets: ~130 members
    * per bucket, 60M candidate pairs, 87 s / exp 1.72):
    *  1. same-video blocking — an equi-join on base = kid div 16,
    *     ≤C(16,2) pairs per video, linear in the corpus: consecutive
    *     shots of one recording are WHERE near-dup keyframes live, so
    *     the strong blocking key carries recall at any density;
    *  2. the banded-hamming path for cross-video dups, with d02's
    *     overflow-bucket drop ([[DedupQueries.LshBucketCap]]): a
    *     9-bit band bucket holding >32 of 66k random signatures is
    *     pure collision density, not similarity — dropping it bounds
    *     the join at exactly the point the band stops selecting.
    *     (63-bit dHash banding saturates near 2⁹·bands items; beyond
    *     that, production systems widen the signature — more bits —
    *     rather than widen the buckets.)
    * The whole pipeline reuses the documents scan once. Oracle: the
    * full chain — scenes, md5 pixel synthesis, dHash bits, blocking +
    * capped bands, hamming verify — in SQL. */
  private def m23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The two composed intermediates materialize (scope-released
    // localCheckpoints — the s11/t22 plan-size lesson): `sc` feeds the
    // hash mount AND the final manifest join, and `ph` is referenced
    // ~9× through bands→cand→ver→nbrs (each self-join/union DOUBLES
    // the lineage) — without the cuts the scene pipeline re-derives
    // once per reference (measured: ×10 decade 93 s, exp 1.64, ×100
    // aborts; with them the tail is |scenes|-sized as designed).
    val sc = graft.Resources.checkpoint(scenesOf(s, d)
      .withColumn("mid", expr("(start_f + end_f) div 2"))
      .withColumn("kid", (col("doc_id") * 16 + pmod(col("mid"), lit(16)))
        .cast(LongType)))
    val ph = graft.Resources.checkpoint(
      sc.select(col("kid")).distinct().as[Long]
        .mapPartitions { it =>
          it.map { k =>
            (k, graft.functions.ImageKernel.dhash(
              graft.functions.ImageKernel.synthGray(k)))
          }
        }.toDF("kid", "phash"))
    val withBase = ph.withColumn("base", expr("kid div 16"))
    val local = withBase.as("a").join(withBase.as("b"),
        col("a.base") === col("b.base") && col("a.kid") < col("b.kid"))
      .select(col("a.kid").as("id_a"), col("b.kid").as("id_b"))
    val bands = ph.select(col("kid"), col("phash"),
        explode(sequence(lit(0), lit(6))).as("b"))
      .select(col("kid"), col("b"),
        expr("shiftright(phash, CAST(b * 9 AS INT)) & 511").as("bv"))
    val okBuckets = bands.groupBy(col("b"), col("bv"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= DedupQueries.LshBucketCap)
      .select(col("b"), col("bv"))
    val capped = bands.join(okBuckets, Seq("b", "bv"))
    val banded = capped.as("a").join(capped.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.kid") < col("b.kid"))
      .select(col("a.kid").as("id_a"), col("b.kid").as("id_b"))
    val cand = local.unionByName(banded).distinct()
    val ver = cand
      .join(ph.select(col("kid").as("id_a"), col("phash").as("pa")), "id_a")
      .join(ph.select(col("kid").as("id_b"), col("phash").as("pb")), "id_b")
      .filter(expr("bit_count(pa ^ pb)") <= 6)
    val nbrs = ver.select(col("id_a").as("kid"), col("id_b").as("nbr"))
      .union(ver.select(col("id_b").as("kid"), col("id_a").as("nbr")))
      .groupBy(col("kid")).agg(min(col("nbr")).as("min_nbr"))
    sc.join(ph, "kid").join(nbrs, Seq("kid"), "left")
      .withColumn("rep_kid",
        least(col("kid"), coalesce(col("min_nbr"), col("kid")))
          .cast(LongType))
      .select(col("doc_id"), col("scene_id"), col("mid").as("mid_frame"),
        col("kid"), col("phash"), col("rep_kid"),
        (col("rep_kid") === col("kid")).cast(LongType).as("keep"))
      .orderBy(col("doc_id"), col("scene_id"))
  }

  private val m23Sql =
    s"""WITH $scenesCtes,
       |kf AS (SELECT doc_id, scene_id,
       |    (start_f + end_f) // 2 AS mid_frame,
       |    doc_id * 16 + ((start_f + end_f) // 2) % 16 AS kid
       |  FROM scenes),
       |kids AS (SELECT DISTINCT kid FROM kf),
       |px AS (SELECT kid, x, y,
       |    CAST(concat('0x', substr(md5(
       |      'g' || (kid // 16) || '_' || x || '_' || y), 1, 2)) AS BIGINT)
       |    + CASE WHEN y = 0 AND x = (kid % 16) % 9 THEN 40 ELSE 0 END AS v
       |  FROM kids,
       |    (SELECT unnest(range(9)) AS x), (SELECT unnest(range(8)) AS y)),
       |bits AS (SELECT a.kid, a.y * 8 + a.x AS idx
       |  FROM px a JOIN px b ON b.kid = a.kid AND b.y = a.y
       |    AND b.x = a.x + 1
       |  WHERE a.x < 8 AND a.y * 8 + a.x < 63 AND b.v > a.v),
       |ph AS (SELECT k.kid, CAST(coalesce(s.h, 0) AS BIGINT) AS phash
       |  FROM kids k LEFT JOIN (
       |    SELECT kid, SUM(CAST(1 AS BIGINT) << idx) AS h
       |    FROM bits GROUP BY kid) s USING (kid)),
       |loc AS (SELECT a.kid AS id_a, b.kid AS id_b
       |  FROM ph a JOIN ph b ON a.kid // 16 = b.kid // 16
       |    AND a.kid < b.kid),
       |bands AS (SELECT kid, b, (phash >> (b * 9)) & 511 AS bv
       |  FROM ph, (SELECT unnest(range(7)) AS b)),
       |capped AS (SELECT bands.* FROM bands
       |  JOIN (SELECT b, bv FROM bands GROUP BY b, bv
       |        HAVING count(*) <= ${DedupQueries.LshBucketCap}) ok
       |  USING (b, bv)),
       |cand AS (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT id_a, id_b FROM loc
       |  UNION ALL
       |  SELECT a.kid AS id_a, b.kid AS id_b
       |  FROM capped a JOIN capped b ON a.b = b.b AND a.bv = b.bv
       |    AND a.kid < b.kid)),
       |ver AS (SELECT id_a, id_b
       |  FROM cand JOIN ph pa ON pa.kid = id_a
       |            JOIN ph pb ON pb.kid = id_b
       |  WHERE bit_count(xor(pa.phash, pb.phash)) <= 6),
       |nbrs AS (SELECT kid, min(nbr) AS min_nbr
       |  FROM (SELECT id_a AS kid, id_b AS nbr FROM ver
       |        UNION ALL SELECT id_b, id_a FROM ver)
       |  GROUP BY kid)
       |SELECT kf.doc_id, kf.scene_id, CAST(kf.mid_frame AS BIGINT) AS mid_frame,
       |  CAST(kf.kid AS BIGINT) AS kid, p.phash,
       |  CAST(least(kf.kid, coalesce(n.min_nbr, kf.kid)) AS BIGINT) AS rep_kid,
       |  CAST(least(kf.kid, coalesce(n.min_nbr, kf.kid)) = kf.kid AS BIGINT)
       |    AS keep
       |FROM kf JOIN ph p USING (kid) LEFT JOIN nbrs n USING (kid)
       |ORDER BY kf.doc_id, kf.scene_id""".stripMargin

  // ---- m24: blur / sharpness scoring (Laplacian variance) -----------------
  /** Per-frame SHARPNESS scoring by the variance-of-Laplacian focus
    * measure (Pech-Pacheco et al. 2000; the OpenCV
    * `cv2.Laplacian(...).var()` blur detector) — the third image
    * curation signal next to m21 (near-dup) and m22 (scene cuts):
    * multimodal training pipelines drop out-of-focus frames before
    * captioning/embedding. Frames are the m01/m11/m22 convention
    * (consecutive 64-byte payload slices viewed as 8×8 gray images);
    * per interior pixel the discrete 4-neighbor Laplacian
    * L = 4·p(i,j) − p(i−1,j) − p(i+1,j) − p(i,j−1) − p(i,j+1), and the
    * frame statistic is the INTEGER variance surrogate
    * 36·ΣL² − (ΣL)² (= 36²·var — exact 64-bit arithmetic, no doubles,
    * so the sharp/blurry verdict is hash-stable across engines).
    * Threshold 27 000 000 ≈ the fixture's p25 (measured: min 10.7M,
    * p25 27.2M, median 30.1M, max 48.6M) — the bottom quartile of
    * frames scores blurry.
    *
    * Scale shape: frame explosion is bounded (len/64 rows per doc,
    * never per-pixel — the 36 Laplacians fold inside TWO row-local
    * higher-order aggregates over a transform-built lap array), and
    * the doc rollup is one hash aggregate on doc_id carrying 4 longs
    * per frame. Payload bytes never shuffle. */
  private def m24(s: SparkSession, d: String): DataFrame = {
    // Decode each of the 64 frame bytes ONCE into an int array, then
    // the 36 Laplacians index it — 64 substring+ascii string reads per
    // frame instead of the naive 180 (5 per interior pixel; measured
    // 1.6× on the ×100 decade, 56.6 → 35.7 s). The oracle keeps the
    // direct per-term formulation, so the hash gate cross-validates
    // the two.
    val pxExpr =
      """transform(sequence(0, 63), i ->
        |  ascii(substring(text, CAST(f*64 + i AS INT) + 1, 1)))"""
        .stripMargin
    val lapExpr =
      """transform(sequence(0, 35), k ->
        |  4 * element_at(px, CAST(((k div 6)+1)*8 + (k % 6)+1 + 1 AS INT))
        |    - element_at(px, CAST(((k div 6)+0)*8 + (k % 6)+1 + 1 AS INT))
        |    - element_at(px, CAST(((k div 6)+2)*8 + (k % 6)+1 + 1 AS INT))
        |    - element_at(px, CAST(((k div 6)+1)*8 + (k % 6)+0 + 1 AS INT))
        |    - element_at(px, CAST(((k div 6)+1)*8 + (k % 6)+2 + 1 AS INT)))"""
        .stripMargin
    Tables.documents(s, d)
      .filter(length(col("text")) >= 128)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          (length(col("text")) / lit(64)).cast(LongType) - 1)).as("f"))
      .withColumn("px", expr(pxExpr))
      .withColumn("lap", expr(lapExpr))
      .withColumn("s", expr(
        "aggregate(lap, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("q", expr(
        "aggregate(lap, CAST(0 AS BIGINT), (a, x) -> a + CAST(x AS BIGINT) * x)"))
      .withColumn("var36", lit(36L) * col("q") - col("s") * col("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_frames"),
        sum((col("var36") > 27000000L).cast(LongType))
          .cast(LongType).as("n_sharp"),
        min(col("var36")).cast(LongType).as("min_var"),
        max(col("var36")).cast(LongType).as("max_var"))
      .orderBy(col("doc_id"))
  }

  private val m24Sql =
    """WITH fr AS (
      |  SELECT doc_id, text,
      |    unnest(range(0, CAST(length(text) // 64 AS BIGINT))) AS f
      |  FROM documents WHERE length(text) >= 128),
      |l AS (
      |  SELECT doc_id, f,
      |    list_transform(range(0, 36), k ->
      |      4 * ascii(substr(text, CAST(f*64 + (k//6+1)*8 + (k%6+1) AS INT) + 1, 1))
      |        - ascii(substr(text, CAST(f*64 + (k//6+0)*8 + (k%6+1) AS INT) + 1, 1))
      |        - ascii(substr(text, CAST(f*64 + (k//6+2)*8 + (k%6+1) AS INT) + 1, 1))
      |        - ascii(substr(text, CAST(f*64 + (k//6+1)*8 + (k%6+0) AS INT) + 1, 1))
      |        - ascii(substr(text, CAST(f*64 + (k//6+1)*8 + (k%6+2) AS INT) + 1, 1))) AS lap
      |  FROM fr),
      |v AS (
      |  SELECT doc_id, f,
      |    36 * CAST(list_sum(list_transform(lap, x -> x*x)) AS BIGINT)
      |      - CAST(list_sum(lap) AS BIGINT) * CAST(list_sum(lap) AS BIGINT)
      |      AS var36
      |  FROM l)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(sum(CASE WHEN var36 > 27000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sharp,
      |  CAST(min(var36) AS BIGINT) AS min_var,
      |  CAST(max(var36) AS BIGINT) AS max_var
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- m29: the composed TTS pipeline with a TRAINED duration model -------
  /** The FastSpeech2 pipeline shape (#35,
    * inference/fastspeech2tts.py:18-75: split sentences → phonemize →
    * duration predictor → length regulator → vocoder) composed in ONE
    * plan with the duration model TRAINED from the corpus — closing
    * the inference triad next to m15's trained ASR and e40's trained
    * chat kernel:
    *
    *  1. TRAIN: per initial letter, the average length of corpus
    *     words starting with it (an honest learned statistic standing
    *     where the predictor head's phoneme durations would),
    *     quantized to 1–4 frames — a 26-row model, broadcast-joined
    *     (the production shape for any vocab-sized head).
    *  2. INFER: each document's FIRST sentence (the reference's
    *     `[.!?]\s+` splitter, :18-20), lowercased to its a–z
    *     character tokens (truncated at 80 — the reference's
    *     max_length chunking), each token expanded to its PREDICTED
    *     duration at its cumulative offset (m08's regulator), and a
    *     deterministic per-frame envelope (ascii·31 + 7k mod 256)
    *     standing for the vocoder sample.
    *
    * Output: per-document frame counts + envelope checksum; the
    * oracle trains the same 26-row model and regulates identically.
    * Scale: one aggregation for the model (26 rows out), then
    * row-local expansion — no shuffle after the broadcast join. */
  private def m29(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // 1. train: initial letter → quantized mean word length
    val words = docs.select(explode(split(trim(col("text")), "\\s+"))
      .as("word"))
      .select(lower(substring(col("word"), 1, 1)).as("c"),
        length(col("word")).cast(LongType).as("len"))
      .filter(col("c").rlike("^[a-z]$"))
    val model = words.groupBy(col("c"))
      .agg((sum(col("len")) / count(lit(1))).cast(LongType).as("avglen"))
      .select(col("c"),
        greatest(lit(1L), least(lit(4L), expr("avglen DIV 2"))).as("dur"))
    // 2. infer: first sentence → char tokens → regulate → envelope
    val sent = docs.select(col("doc_id"),
      substring(regexp_replace(lower(
        split(col("text"), "[.!?]\\s+").getItem(0)), "[^a-z]", ""),
        1, 80).as("chars"))
      .filter(length(col("chars")) >= 1)
    val toksE = sent.select(col("doc_id"), col("chars"),
        explode(sequence(lit(1), length(col("chars")))).as("pos"))
      .select(col("doc_id"), col("pos"),
        substring(col("chars"), col("pos"), lit(1)).as("c"))
      .join(broadcast(model), "c")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val frames = toksE
      .withColumn("off", coalesce(sum(col("dur")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("c"), col("off"),
        explode(sequence(lit(0L), col("dur") - 1)).as("k"))
      .select(col("doc_id"),
        (col("off") + col("k")).as("frame"),
        ((ascii(col("c")) * 31 + col("k") * 7) % 256).as("amp"))
    frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_frames"),
        max(col("frame")).cast(LongType).as("last_frame"),
        sum(col("amp")).cast(LongType).as("amp_sum"))
      .orderBy(col("doc_id"))
  }

  private val m29Sql =
    """WITH words AS (SELECT lower(substr(w, 1, 1)) AS c,
      |    CAST(len(w) AS BIGINT) AS l
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents)
      |  WHERE lower(substr(w, 1, 1)) SIMILAR TO '[a-z]'),
      |model AS (SELECT c,
      |    greatest(1, least(4, (sum(l) // count(*)) // 2)) AS dur
      |  FROM words GROUP BY c),
      |sent AS (SELECT doc_id,
      |    substr(regexp_replace(lower(
      |      string_split_regex(text, '[.!?]\s+')[1]), '[^a-z]', '', 'g'),
      |      1, 80) AS chars
      |  FROM documents),
      |toks AS (SELECT doc_id, pos, substr(chars, pos, 1) AS c
      |  FROM sent, unnest(generate_series(1, len(chars))) AS g(pos)
      |  WHERE len(chars) >= 1),
      |dtoks AS (SELECT t.doc_id, t.pos, t.c, m.dur
      |  FROM toks t JOIN model m ON t.c = m.c),
      |offs AS (SELECT *,
      |    CAST(COALESCE(sum(dur) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS off
      |  FROM dtoks),
      |frames AS (SELECT doc_id, off + k AS frame,
      |    (ascii(c) * 31 + k * 7) % 256 AS amp
      |  FROM offs,
      |    unnest(range(CAST(0 AS BIGINT), CAST(dur AS BIGINT))) AS u(k))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(max(frame) AS BIGINT) AS last_frame,
      |  CAST(sum(amp) AS BIGINT) AS amp_sum
      |FROM frames GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- m33: the media switch over CODED video ------------------------
  /** m33: the media switch consuming DELTA-CODED frames — the wiring
    * the reference runs when a videoencoder feeds a mediaswitch
    * (mediaswitch.py cuts on `packet.is_keyframe`, which the engine's
    * coded frames carry as the `k|<hex>` / `p|<hex>` tag the
    * delta/motion encoders emit). Two per-container feeds are
    * GOP-4 delta-coded (m09's per-frame model: keyframe stores the
    * byte, P-frames the mod-256 difference), feed A is selected from
    * the start, and a mid-timeline control (at the container's
    * (min+max)/2 ms) selects feed B: the machine must keep forwarding
    * A until the switch, DROP B's P-frames after it, and cut over
    * exactly at B's first CODED KEYFRAME — active-index deferral read
    * from the coded tag, not a bare flag. Runs as a loaded
    * [[graft.plans.Pipeline.MediaSwitchOp]] multi-pipeline (one
    * machine per container); the oracle recomputes the coded tags and
    * the cutover index relationally. */
  private def m33(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.Pipeline
    import graft.plans.Pipeline._
    val w = Window.partitionBy(col("c"), col("feed"))
      .orderBy(col("ts_ms"), col("event_id"))
    val e = Tables.eventsMs(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select((col("user_id") % 16).as("c"),
        when(col("event_type") === "click", 0).otherwise(1).as("feed"),
        col("ts_ms"), col("event_id"),
        (abs(floor(col("value") * 10).cast(LongType)) % 256).as("v"))
    val frames = e
      .withColumn("k", row_number().over(w).cast(LongType) - 1)
      .withColumn("is_key", col("k") % 4 === 0)
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("stored", when(col("is_key"), col("v"))
        .otherwise((((col("v") - col("prev")) % 256) + 256) % 256))
      .withColumn("text", concat(
        when(col("is_key"), lit("k|")).otherwise(lit("p|")),
        lpad(lower(hex(col("stored"))), 2, "0")))
    val bounds = e.groupBy(col("c"))
      .agg(expr("(min(ts_ms) + max(ts_ms)) div 2").as("sw"))
    def env(f: Int) = frames.filter(col("feed") === f)
      .select(col("c").cast(StringType).as("pipe"),
        col("ts_ms").as("ts"), col("v").cast(DoubleType).as("value"),
        col("text"), lit(false).as("paused"), col("event_id").as("seq"))
    def ctrl(ts: org.apache.spark.sql.Column, v: Double, seq: Long) =
      bounds.select(col("c").cast(StringType).as("pipe"), ts.as("ts"),
        lit(v).as("value"), lit(null).cast(StringType).as("text"),
        lit(false).as("paused"), lit(seq).as("seq"))
    val dep = Deployment("m33", Seq(
      TaskSpec("fa", SourceOp(IOMeta.video), Nil, "fd0"),
      TaskSpec("ca", SourceOp(IOMeta.number), Nil, "c0"),
      TaskSpec("fb", SourceOp(IOMeta.video), Nil, "fd1"),
      TaskSpec("cb", SourceOp(IOMeta.number), Nil, "c1"),
      TaskSpec("ms", MediaSwitchOp(2), Seq("fd0", "c0", "fd1", "c1"), "ms")))
    val out = Pipeline.compile(dep, Map(
      "fd0" -> env(0), "c0" -> ctrl(lit(0L), 1.0, -2L),
      "fd1" -> env(1), "c1" -> ctrl(col("sw"), 2.0, -1L)))("ms")
    out.filter(!col("paused"))
      .select(col("pipe").cast(LongType).as("container"),
        col("ts").as("ts_ms"), col("value").cast(LongType).as("v"),
        col("text"))
      .orderBy(col("container"), col("ts_ms"), col("v"), col("text"))
  }

  private val m33Sql =
    """WITH e AS (SELECT user_id % 16 AS c,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS feed,
      |    epoch_ms(ts) AS ts_ms, event_id,
      |    abs(CAST(floor(value * 10) AS BIGINT)) % 256 AS v
      |  FROM events WHERE event_type IN ('click','view')),
      |f AS (SELECT *, CAST(row_number() OVER w - 1 AS BIGINT) AS k,
      |    lag(v, 1) OVER w AS prev
      |  FROM e WINDOW w AS (PARTITION BY c, feed ORDER BY ts_ms, event_id)),
      |g AS (SELECT c, feed, ts_ms, v, k,
      |    CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS is_key,
      |    CASE WHEN k % 4 = 0 THEN v
      |         ELSE ((v - prev) % 256 + 256) % 256 END AS stored
      |  FROM f),
      |b AS (SELECT c, (min(ts_ms) + max(ts_ms)) // 2 AS sw
      |      FROM e GROUP BY c),
      |-- B's cutover frame: its first CODED KEYFRAME at/after the
      |-- switch control (control sorts before data at the same ts)
      |cut AS (SELECT g.c, min(g.k) AS k0 FROM g JOIN b ON g.c = b.c
      |        WHERE g.feed = 1 AND g.ts_ms >= b.sw AND g.is_key = 1
      |        GROUP BY g.c),
      |fwd AS (
      |  SELECT g.c, g.ts_ms, g.v, g.is_key, g.stored
      |  FROM g JOIN b ON g.c = b.c
      |  WHERE g.feed = 0 AND g.ts_ms < b.sw
      |  UNION ALL
      |  SELECT g.c, g.ts_ms, g.v, g.is_key, g.stored
      |  FROM g JOIN b ON g.c = b.c JOIN cut ON g.c = cut.c
      |  WHERE g.feed = 1 AND g.k >= cut.k0)
      |SELECT c AS container, CAST(ts_ms AS BIGINT) AS ts_ms,
      |  CAST(v AS BIGINT) AS v,
      |  (CASE WHEN is_key = 1 THEN 'k|' ELSE 'p|' END ||
      |    printf('%02x', stored)) AS text
      |FROM fwd ORDER BY container, ts_ms, v, text""".stripMargin

  val all: Seq[Q] = Seq(
    Q("m01_binary_meta", m01, Some(m01Sql)),
    Q("m02_chunk_manifest", m02, Some(m02Sql)),
    Q("m03_decode_stub", m03, Some(m03Sql)),
    Q("m05_video_blend", m05, Some(m05Sql)),
    Q("m06_video_layout", m06, Some(m06Sql)),
    Q("m07_ctc_decode", m07, Some(m07Sql)),
    Q("m08_length_regulator", m08, Some(m08Sql)),
    Q("m09_delta_codec", m09, Some(m09Sql)),
    Q("m10_reformat", m10, Some(m10Sql)),
    Q("m11_frame_sample", m11, Some(m11Sql)),
    Q("m12_digit_raster", m12, Some(m12Sql)),
    Q("m13_patch_grid", m13, Some(m13Sql)),
    Q("m14_jpeg_roundtrip", m14, Some(m14Sql)),
    Q("m15_asr_trained", m15, Some(m15Sql)),
    Q("m21_phash_dedup", m21, Some(m21Sql)),
    Q("m22_scene_detect", m22, Some(m22Sql)),
    Q("m23_video_curation", m23, Some(m23Sql)),
    Q("m24_blur_score", m24, Some(m24Sql)),
    Q("m29_tts_trained", m29, Some(m29Sql)),
    Q("m33_coded_media_switch", m33, Some(m33Sql)),
  )
}
