package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span has a name, a layer, start and end
  * (epoch ms, sub-ms precision), its parent span and the operation
  * (query or rate step) it belongs to. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def span[A](name: String, layer: String, op: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
          "op" -> op, "t0" -> t0, "t1" -> nowMs))
      }
    }

  /** An interval observed from outside the harness (a Spark job, a
    * Catalyst phase); attributed to `op`, parent left to the summary. */
  def record(name: String, layer: String, op: String, t0: Double, t1: Double): Unit =
    if (enabled)
      spans.add(Map("id" -> ids.incrementAndGet(), "parent" -> null, "name" -> name,
        "layer" -> layer, "op" -> op, "t0" -> t0, "t1" -> t1))

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

/** Spark-side observer for traced runs, built only from Spark's public
  * listener APIs: a SparkListener (jobs, stages, tasks, block updates,
  * AQE updates and the streaming-query events every session posts to
  * the shared bus), a QueryExecutionListener (Catalyst phase times from
  * `qe.tracker.phases`) and the CodegenMetrics counters. Counts are
  * attributed to the operation named by the job group the harness sets
  * (`pb:<op>`), or to the harness's current operation for events that
  * carry no group (streaming-query threads, block updates). */
final class Probe(spark: SparkSession, tracer: Tracer) {
  @volatile var op: String = "setup"
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()
  private val batchMs = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobT0 = new ConcurrentHashMap[Int, Long]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val queryOp = new ConcurrentHashMap[java.util.UUID, String]()
  private val queryT0 = new ConcurrentHashMap[java.util.UUID, Long]()
  private val lastState = new ConcurrentHashMap[java.util.UUID, Array[Long]]()

  def add(o: String, k: String, v: Long): Unit =
    counters.computeIfAbsent(o, _ => new ConcurrentHashMap[String, LongAdder]())
      .computeIfAbsent(k, _ => new LongAdder).add(v)

  private def groupOp(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb:")).map(_.drop(3)).getOrElse(op)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = groupOp(e.properties)
      jobOp.put(e.jobId, o); jobT0.put(e.jobId, e.time)
      e.stageIds.foreach(stageOp.put(_, o))
      add(o, "sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = jobOp.getOrDefault(e.jobId, op)
      tracer.record("job", "spark.jobs", o, jobT0.getOrDefault(e.jobId, e.time).toDouble, e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(stageOp.getOrDefault(e.stageInfo.stageId, op), "sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val o = stageOp.getOrDefault(e.stageId, op)
        add(o, "sched.tasks", 1)
        add(o, "task.run_ms", m.executorRunTime)
        add(o, "task.cpu_ns", m.executorCpuTime)
        add(o, "task.gc_ms", m.jvmGCTime)
        add(o, "sched.delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime))
        add(o, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(o, "shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
        add(o, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(o, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add(o, "spill.bytes", m.diskBytesSpilled)
        add(o, "scan.bytes", m.inputMetrics.bytesRead)
        add(o, "scan.records", m.inputMetrics.recordsRead)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add(op, "ckpt.blocks", 1)
        add(op, "ckpt.bytes", b.memSize + b.diskSize)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add(op, "aqe.replans", 1)
      case s: StreamingQueryListener.QueryStartedEvent =>
        queryOp.put(s.id, op); queryT0.put(s.id, Instant(s.timestamp))
        add(op, "mount.queries", 1)
      case p: StreamingQueryListener.QueryProgressEvent => progress(p.progress)
      case t: StreamingQueryListener.QueryTerminatedEvent =>
        val o = queryOp.getOrDefault(t.id, op)
        Option(queryT0.get(t.id)).foreach(t0 => add(o, "mount.stream_ms", System.currentTimeMillis() - t0))
        Option(lastState.remove(t.id)).foreach { s =>
          add(o, "state.rows_total", s(0)); add(o, "state.memory_bytes", s(1))
          add(o, "state.cache_hits", s(2)); add(o, "state.cache_lookups", s(2) + s(3))
        }
      case _ => ()
    }
  }

  private def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val o = queryOp.getOrDefault(p.id, op)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val trigger = d.getOrElse("triggerExecution", 0L)
    add(o, "stream.batches", 1)
    add(o, "stream.rows_in", p.numInputRows)
    Seq("addBatch" -> "stream.add_batch_ms", "queryPlanning" -> "stream.planning_ms",
      "walCommit" -> "stream.wal_ms", "commitOffsets" -> "stream.commit_ms",
      "latestOffset" -> "stream.latest_offset_ms").foreach { case (k, name) =>
      add(o, name, d.getOrElse(k, 0L)) }
    batchMs.computeIfAbsent(o, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]()).add(trigger)
    tracer.record("trigger", "graft.streaming", o, Instant(p.timestamp).toDouble,
      (Instant(p.timestamp) + trigger).toDouble)
    if (!lastState.containsKey(p.id))
      Option(queryT0.get(p.id)).foreach(t0 =>
        add(o, "mount.start_ms", Instant(p.timestamp) + trigger - t0))
    val ops = p.stateOperators
    ops.foreach { s =>
      add(o, "state.commit_ms", s.commitTimeMs)
      add(o, "state.update_ms", s.allUpdatesTimeMs)
    }
    def custom(k: String) = ops.map(s => Option(s.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
    lastState.put(p.id, Array(ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      custom("loadedMapCacheHitCount"), custom("loadedMapCacheMissCount")))
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val o = op
      qe.tracker.phases.foreach { case (phase, s) =>
        tracer.record(s"catalyst.$phase", "catalyst", o, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
        add(o, s"catalyst.${phase}_ms", s.durationMs)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def codegen: (Long, Double) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, h.getCount * h.getSnapshot.getMean)
  }
  private var codegen0 = codegen

  /** Switch attribution to `next`; the previous operation's codegen
    * deltas are booked (compile time estimated as compiles × mean). */
  def switchTo(next: String): Unit = {
    val c = codegen
    add(op, "codegen.classes", c._1 - codegen0._1)
    add(op, "codegen.compile_us", ((c._2 - codegen0._2) * 1000).toLong)
    codegen0 = c
    op = next
  }

  def counts: Map[String, Map[String, Long]] = counters.asScala.map { case (o, m) =>
    o -> m.asScala.map { case (k, v) => k -> v.sum }.toMap }.toMap
  def batchDurations: Map[String, Seq[Long]] = batchMs.asScala.map { case (o, q) => o -> q.asScala.toSeq }.toMap
}

object Instant {
  def apply(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
}
