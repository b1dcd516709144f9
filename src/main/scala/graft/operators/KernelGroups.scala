package graft.operators

import scala.reflect.ClassTag

import graft.Tables.eventsMs
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Fixed-width per-group kernel execution.
  *
  * The engine's container/codec operators run heavy CPU kernels per
  * group (one container's mux → demux → decode round-trip) behind a
  * byte-light exchange: at sf0.1 the m27 matrix kernel is ~10 s of CPU
  * behind a ~1.5 MB shuffle. A plain `groupByKey` routes that exchange
  * through AQE, whose partition coalescing is a BYTES heuristic
  * (`minPartitionSize`, default 1 MiB) — it packed the whole kernel
  * family onto 1–2 tasks (m27 measured wall 10.6 s ≈ task-time 10.4 s:
  * parallelism 1.0). Lowering the floor session-wide was measured and
  * rejected: it un-serializes the kernels but multiplies per-task fixed
  * costs across every OTHER query's byte-light exchange.
  *
  * Both primitives move ONLY the kernel exchange out of AQE's reach: a
  * shuffle at cluster width (`defaultParallelism`), so the CPU-dense
  * stage always spreads across the cluster regardless of its byte
  * size, while every relational exchange keeps AQE's byte-based
  * coalescing. The modular keys (`user_id % 32`) spread evenly, one
  * key per partition in turn. Group→partition placement affects no
  * value.
  *
  *  - [[countKernel]] is for kernels that read only how many rows
  *    their key has (the synthetic codec fixtures: a container's view
  *    count or a chunk's click count sizes its stream). The shuffle is
  *    a map-side-combined `reduceByKey` on a [[HashPartitioner]]: it
  *    carries one partial count per key per map partition, never a
  *    row, and no group is materialized, so per-key memory is one Int
  *    at any corpus size.
  *  - [[sortedKernel]] is for kernels that read their rows in arrival
  *    order (the WAV/AVI/MKV/MP4/FLV/RTMP legs mux each event, the
  *    PCM codecs and the ASR fold read their samples in time order).
  *    It stays on the Tungsten path: `repartitionById(width, key)` is a
  *    REPARTITION_BY_NUM exchange, which AQE does not coalesce and
  *    which already satisfies the group's distribution, so the plan is
  *    one exchange, one `Sort [key, ts_ms, event_id]` and `MapGroups`,
  *    with no `AppendColumns`. Each group arrives in (ts_ms, event_id)
  *    order — event_id is unique, so the order is total — and is
  *    streamed from the sorter, not buffered per group. Key k goes to
  *    partition k mod width, as in the count form: a Murmur3
  *    `repartition(width, key)` put 14 of the 32 containers on one of
  *    4 partitions, and the slowest task grew by that share.
  *
  * At 100 TB the row form's exchange carries the same rows it always
  * did (group keys and sample metadata, never decoded payloads); the
  * count form's carries at most keys × map partitions counts; width =
  * `defaultParallelism` scales with the cluster, not with a local
  * constant.
  */
object KernelGroups {

  /** The container of each view: the key set of the view-sized codec
    * kernels (m28, m36–m72, e53–e55). */
  def viewContainers(s: SparkSession, d: String): Dataset[Long] =
    keyOf(s, d, "view", 32)

  /** The chunk of each click: the key set of the click-sized codec
    * kernels (p15–p34, e56–e58). */
  def clickChunks(s: SparkSession, d: String): Dataset[Long] =
    keyOf(s, d, "click", 16)

  private def keyOf(s: SparkSession, d: String, eventType: String,
      mod: Int): Dataset[Long] =
    eventsMs(s, d).filter(col("event_type") === eventType)
      .select(col("user_id") % mod).as(Encoders.scalaLong)

  /** The two-track container timeline of the muxing kernels (m17–m19,
    * m25–m27, m30, m31, m35): every view and click as
    * (container = `user_id % 32`, track: view 1 / click 2, event_id,
    * ts_ms). */
  def trackEvents(s: SparkSession, d: String)
      : Dataset[(Long, Int, Long, Long)] = {
    import s.implicits._
    eventsMs(s, d)
      .filter(col("event_type").isin("view", "click"))
      .select((col("user_id") % 32).as("container"),
        when(col("event_type") === "view", 1).otherwise(2).as("track"),
        col("event_id"), col("ts_ms"))
      .as[(Long, Int, Long, Long)]
  }

  /** The PCM16 click stream of the audio-container kernels (m16, m20,
    * m32, c10, c14, e51, e52): every click as (key = `user_id % mod`,
    * x = round(value × 100) clamped to s16, ts_ms, event_id). */
  def pcmClicks(s: SparkSession, d: String, mod: Int)
      : Dataset[(Long, Int, Long, Long)] = {
    import s.implicits._
    eventsMs(s, d).filter(col("event_type") === "click")
      .select((col("user_id") % mod).as("key"),
        least(greatest(round(col("value") * 100).cast(IntegerType),
          lit(-32768)), lit(32767)).as("x"),
        col("ts_ms"), col("event_id"))
      .as[(Long, Int, Long, Long)]
  }

  /** `fn(key, number of rows with that key)` for every key in `keys`,
    * at explicit cluster width. */
  def countKernel[K: ClassTag, O: Encoder: ClassTag](keys: Dataset[K])(
      fn: (K, Int) => IterableOnce[O]): Dataset[O] = {
    val s = keys.sparkSession
    val w = s.sparkContext.defaultParallelism
    s.createDataset(
      keys.rdd.map(k => (k, 1)).reduceByKey(new HashPartitioner(w), _ + _)
        .flatMap { case (k, n) => fn(k, n) })
  }

  /** `fn(k, rows with column key = k, in (ts_ms, event_id) order)` for
    * every key of `rows`, at explicit cluster width: key k runs on
    * partition k mod width. `rows` must carry `ts_ms` and `event_id`
    * columns, and its keys must fit in an Int. */
  def sortedKernel[I, O: Encoder](rows: Dataset[I], key: String)(
      fn: (Long, Iterator[I]) => IterableOnce[O]): Dataset[O] = {
    val w = rows.sparkSession.sparkContext.defaultParallelism
    rows.withColumn(key, col(key).cast(IntegerType))
      .repartitionById(w, col(key))
      .groupBy(col(key)).as[Int, I](Encoders.scalaInt, rows.encoder)
      .flatMapSortedGroups(col("ts_ms"), col("event_id"))(
        (k, it) => fn(k.toLong, it))
  }
}
