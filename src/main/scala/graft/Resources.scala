package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-lifetime hygiene for materialized intermediates.
  *
  * The reference never needs this: every task is a process-lifetime
  * object whose buffers die with the process
  * (/root/reference/streamtasks/system/task.py:28-34). A Spark engine
  * composing queries in one long-lived session does: `localCheckpoint`
  * pins non-evictable RDD blocks and `.cache()` pins CacheManager
  * entries, so a session that runs hundreds of queries (exactly what
  * the driver's bench session is) accumulates storage that later
  * memory-hungry operators pay for — measured in round 5 as a 2–4×
  * inflation of every hash-aggregation-heavy query that ran after the
  * dedup block.
  *
  * The fix is scoped lifecycle: every engine main runs each query
  * inside a [[withScope]] (most through [[GraftSession.force]]); any
  * intermediate the query materializes via [[checkpoint]]/[[cache]] is
  * registered in the scope and released when the query's action
  * finishes. Scopes are thread-local, so concurrent queries on one
  * session (Verify's pool) release only their own intermediates —
  * never blocks another in-flight query still reads. Code running
  * outside any scope (ad-hoc notebook use, specs) behaves exactly as
  * before: the intermediate lives until the session ends or the caller
  * releases it.
  *
  * Deliberately session-pinned intermediates — the duplicate-cluster
  * labels d10 publishes for d12/d16/d18, the edge table g01 publishes
  * for the other graph queries, q30's bucketed tables, q32/q34's
  * lang-partitioned documents and lang dimension files — bypass the
  * scope on purpose: they live in one map owned here ([[publish]],
  * [[shared]]) until [[releasePinned]], which [[GraftSession.close]]
  * runs before stopping the session.
  */
object Resources {

  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[
      scala.collection.mutable.ArrayBuffer[() => Unit]]] {
      override def initialValue() = new java.util.ArrayDeque
    }

  /** Run `body`, then release every intermediate it registered.
    * Nestable (inner scopes release first); release order within a
    * scope is LIFO so consumers release before their inputs. */
  def withScope[A](body: => A): A = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    scopes.get.push(buf)
    try body
    finally {
      val stack = scopes.get
      stack.pop()
      // Pooled threads (Verify's ExecutionContext) live for the whole
      // session: drop the ThreadLocal entry itself once no scope is
      // active so nothing lingers per thread between queries.
      if (stack.isEmpty) scopes.remove()
      buf.reverseIterator.foreach { release =>
        try release() catch { case _: Throwable => () }
      }
    }
  }

  private def register(release: () => Unit): Unit = {
    val stack = scopes.get
    if (!stack.isEmpty) stack.peek() += release
    // no active scope: caller owns the lifetime (pre-round-6 behavior)
  }

  /** `df.localCheckpoint()` whose blocks are released when the current
    * scope (if any) closes. localCheckpoint is eager, so this both
    * materializes the intermediate and schedules its release.
    *
    * SPARK_GRAFT_EXPLAIN_CHECKPOINTS=1 prints each checkpointed
    * frame's formatted plan to stderr BEFORE materialization —
    * checkpoints truncate lineage, so a query's final `.explain` can
    * never show its staging plans (the round-15 d09/d10 evidence gap);
    * this is how plan deltas inside staged/iterative pipelines get
    * captured for plans/<round>/. */
  def checkpoint(df: DataFrame): DataFrame = {
    if (explainCheckpoints(sys.env))
      System.err.println("== checkpoint plan ==\n" +
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    val cp = df.localCheckpoint()
    register(() => unpersistCheckpoint(cp))
    cp
  }

  /** Whether the environment asks for the checkpoint-plan dump: only
    * `SPARK_GRAFT_EXPLAIN_CHECKPOINTS=1` does (`0` or empty leaves it
    * off). */
  private[graft] def explainCheckpoints(env: Map[String, String]): Boolean =
    env.get("SPARK_GRAFT_EXPLAIN_CHECKPOINTS").contains("1")

  /** `df.cache()` released when the current scope (if any) closes. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    register(() => { c.unpersist(blocking = false); () })
    c
  }

  /** Session-pinned values: (session, key) → (value, its release). */
  private val pinned = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (AnyRef, () => Unit)]

  /** Pin a freshly computed `fresh` under `key` for the session's
    * lifetime and return it. If another copy is already pinned, `fresh`
    * is still returned (the caller's number honestly carries the
    * computation) but released with the current scope instead. */
  def publish[A <: AnyRef](s: SparkSession, key: String, fresh: A)(
      release: A => Unit): A = {
    if (pinned.putIfAbsent((s, key), (fresh, () => release(fresh))) != null)
      register(() => release(fresh))
    fresh
  }

  /** The value pinned under `key`, computing and pinning it first when
    * absent. computeIfAbsent serializes concurrent callers (Verify's
    * pool), so the value is computed once per session. */
  def shared[A <: AnyRef](s: SparkSession, key: String)(compute: => A)(
      release: A => Unit): A =
    pinned.computeIfAbsent((s, key), _ => {
      val v = compute
      (v, () => release(v))
    })._1.asInstanceOf[A]

  /** Unpin and release every value pinned on `s`. */
  def releasePinned(s: SparkSession): Unit = {
    val it = pinned.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        it.remove()
        try e.getValue._2() catch { case _: Throwable => () }
      }
    }
  }

  /** Release the block-manager storage behind a localCheckpointed
    * DataFrame. Each checkpoint caches a full non-evictable copy of
    * its table, so iterative/composed pipelines must release copies
    * they no longer read. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
