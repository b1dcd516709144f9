package graft.operators

import scala.reflect.ClassTag

import graft.Tables.eventsMs
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Fixed-width per-group kernel execution (round-15 optimization).
  *
  * The engine's container/codec operators run heavy CPU kernels per
  * group (one container's mux → demux → decode round-trip) behind a
  * byte-light exchange: at sf0.1 the m27 matrix kernel is ~10 s of CPU
  * behind a ~1.5 MB shuffle. `Dataset.groupByKey` routes that exchange
  * through AQE, whose partition coalescing is a BYTES heuristic
  * (`minPartitionSize`, default 1 MiB) — it packed the whole kernel
  * family onto 1–2 tasks (m27 measured wall 10.6 s ≈ task-time 10.4 s:
  * parallelism 1.0, guide §2.5's skew-by-coalescing in its purest
  * form). Lowering the floor session-wide was measured and rejected:
  * it un-serializes the kernels but multiplies per-task fixed costs
  * (codegen instantiation, hash-table allocs) across every OTHER
  * query's byte-light exchange — the round-7 width lesson
  * (`Tables.spread`) applied to shuffles.
  *
  * Both primitives move ONLY the kernel exchange out of AQE's reach: an
  * RDD shuffle with an explicit [[HashPartitioner]] at cluster width
  * (`defaultParallelism`), so the CPU-dense stage always spreads
  * across the cluster regardless of its byte size, while every
  * relational exchange keeps AQE's byte-based coalescing. The common
  * modular keys (`user_id % 32`) map 1:1 onto partitions (Long
  * hashCode is the value for small ids), so there is no
  * collision-skew. Group→partition placement affects no value.
  *
  *  - [[countKernel]] is for kernels that read only how many rows
  *    their key has (the synthetic codec fixtures: a container's view
  *    count or a chunk's click count sizes its stream). The shuffle is
  *    a map-side-combined `reduceByKey`: it carries one partial count
  *    per key per map partition, never a row, and no group is
  *    materialized, so per-key memory is one Int at any corpus size.
  *  - [[flatMapKernel]] / [[mapKernel]] are for kernels that read their
  *    rows (the WAV/AVI/MKV/MP4/FLV/RTMP legs mux each event). Every row
  *    crosses the exchange and each group is materialized; the kernels
  *    are order-insensitive per group (each sorts its group
  *    internally), since arrival order is not deterministic.
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

  /** `rows.groupByKey(key).flatMapGroups(fn)` at explicit cluster
    * width. */
  def flatMapKernel[I, K: ClassTag, O: Encoder: ClassTag](rows: Dataset[I])(
      key: I => K)(fn: (K, Iterator[I]) => IterableOnce[O]): Dataset[O] = {
    val s = rows.sparkSession
    val w = s.sparkContext.defaultParallelism
    s.createDataset(
      rows.rdd.groupBy(key, new HashPartitioner(w))
        .flatMap { case (k, it) => fn(k, it.iterator) })
  }

  /** `rows.groupByKey(key).mapGroups(fn)` at explicit cluster width. */
  def mapKernel[I, K: ClassTag, O: Encoder: ClassTag](rows: Dataset[I])(
      key: I => K)(fn: (K, Iterator[I]) => O): Dataset[O] =
    flatMapKernel(rows)(key)((k, it) => Iterator.single(fn(k, it)))
}
