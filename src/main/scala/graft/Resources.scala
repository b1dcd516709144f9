package graft

import org.apache.spark.sql.DataFrame

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
  * The fix is scoped lifecycle: an engine entry point (Bench, Verify,
  * ScaleCurve, Explain) opens a [[withScope]] around each query; any
  * intermediate the query materializes via [[checkpoint]]/[[cache]] is
  * registered in the scope and released when the query's action
  * finishes. Scopes are thread-local, so concurrent queries on one
  * session (Verify's pool) release only their own intermediates —
  * never blocks another in-flight query still reads. Code running
  * outside any scope (ad-hoc notebook use, specs) behaves exactly as
  * before: the intermediate lives until the session ends or the caller
  * releases it.
  *
  * Deliberately-pinned session-scoped intermediates (the
  * duplicate-cluster label table d10 publishes for d12 — one slim row
  * per document) bypass the scope on purpose; see
  * `DedupQueries.publishLabels`.
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

  /** Schedule an already-localCheckpointed DataFrame for release when
    * the current scope closes (for checkpoints built elsewhere, e.g. a
    * label table that lost the publish race and is only read by the
    * current query). */
  def releaseOnClose(df: DataFrame): Unit =
    register(() => unpersistCheckpoint(df))

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
