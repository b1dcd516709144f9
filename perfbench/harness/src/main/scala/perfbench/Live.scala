package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.plans.{Pipeline, PipelineManager}
import graft.plans.Pipeline._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One generated event: `pipe` names the pipeline instance, `topic` 0
  * is the data topic and 1 the gate's control topic. `ts` is logical
  * event time (strictly increasing), so every batch cut keeps order. */
final case class LiveEv(pipe: String, topic: Int, ts: Long, value: Double, seq: Long)

/** Open-loop live deployment: for each rate of the ladder a fresh
  * multi-pipeline deployment (source → calculator → gate with a
  * control topic) is scheduled and started through `PipelineManager`,
  * fed from ONE MemoryStream split by topic, drained, stopped, and its
  * sink compared with `Pipeline.compile` run in batch mode over the
  * same events. One generator thread appends each event at its due
  * time whatever the deployment does; latency runs from the due time
  * to the commit of the micro-batch that consumed the event. */
final class LiveRun(args: Map[String, String], cpus: Int, work: String, tracer: Tracer)
    extends Run(cpus, work, tracer) {
  private val rates = args("rates").split(",").map(_.toDouble).toSeq
  private val drainLimitMs = 20000L
  private var steps: Map[Int, Array[(Double, LiveEv)]] = Map.empty

  private def deployment(name: String): Deployment = Deployment(name, Seq(
    TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
    TaskSpec("ctrl", SourceOp(IOMeta.number), Nil, "play"),
    TaskSpec("calc", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"), "doubled"),
    TaskSpec("gate", GateOp(), Seq("doubled", "play"), "gated")))

  private def sources(events: DataFrame): Map[String, DataFrame] = {
    def topic(t: Int) = events.filter(col("topic") === t).select(col("ts"), col("value"),
      lit(null).cast("string").as("text"), lit(false).as("paused"), col("seq"), col("pipe"))
    Map("a" -> topic(0), "play" -> topic(1))
  }

  /** Schedule lines: `step,due_ms,pipe,topic,value`; seq is the line
    * index and ts = seq + 1. */
  protected def stage(): Unit = {
    val src = scala.io.Source.fromFile(args("schedule"))
    try steps = src.getLines().filterNot(_.startsWith("#")).zipWithIndex.map { case (l, i) =>
      val f = l.split(",")
      f(0).toInt -> (f(1).toDouble, LiveEv(f(2), f(3).toInt, i + 1L, f(4).toDouble, i.toLong))
    }.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }
    finally src.close()
  }

  private def frame(evs: Seq[LiveEv]): DataFrame = spark.createDataset(evs)(LiveRun.enc).toDF()

  /** Warm-up: one batch compile and one short live deployment cycle
    * (start, one committed micro-batch, stop) over the first events. */
  protected def warmup(): Unit = {
    val evs = steps(0).take(200).map(_._2).toSeq
    Pipeline.compile(deployment("warmup"), sources(frame(evs)))("gated").collect()
    val name = "warmup"
    val mem = MemoryStream[LiveEv](spark, 1)(LiveRun.enc)
    val mgr = new PipelineManager(spark, Some(s"$work/checkpoints/$name"))
    mgr.start(deployment(name), sources(mem.toDF()), Seq("gated"))
    mem.addData(evs)
    spark.streams.active.foreach(_.processAllAvailable())
    mgr.stop(name)
  }

  /** Progress of the running deployment's sink query: (end offset,
    * commit epoch ms), from the streaming events on the listener bus. */
  private final class Commits(queryName: String) extends SparkListener {
    val seen = new ConcurrentLinkedQueue[(Long, Double, Long)]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent if p.progress.name == queryName =>
        val pr = p.progress
        val end = Option(pr.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong).getOrElse(-1L)
        val trigger = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        seen.add((end, (Instant(pr.timestamp) + trigger).toDouble, pr.numInputRows))
      case _ => ()
    }
    def committed: Long = seen.asScala.map(_._1).foldLeft(-1L)(math.max)
  }

  private def sleepUntil(ms: Double): Unit = {
    var left = ms - tracer.nowMs
    while (left > 0.05) {
      LockSupport.parkNanos((left * 1e6).toLong)
      left = ms - tracer.nowMs
    }
  }

  private def step(i: Int, rate: Double): Map[String, Any] = {
    val evs = steps(i)
    val name = s"live_r${i + 1}"
    val op = s"r${i + 1}"
    val mem = MemoryStream[LiveEv](spark, 1)(LiveRun.enc)
    val mgr = new PipelineManager(spark, Some(s"$work/checkpoints/$name"))
    val commits = new Commits(s"${name}_gated")
    spark.sparkContext.addSparkListener(commits)
    val appended = new Array[Double](evs.length)
    val offsets = new Array[Long](evs.length)
    val t0 = tracer.nowMs
    val (tSched, firstStart, status, drained, tStop0, tEnd) =
      tracer.span(s"step.$op", "perfbench.op", op) {
        tracer.span("schedule", "graft.plans.PipelineManager", op)(
          mgr.schedule(deployment(name), sources(mem.toDF()), Seq("gated")))
        val tSched = tracer.nowMs
        tracer.span("start", "graft.plans.PipelineManager", op)(mgr.start(name))
        val start = tracer.nowMs
        val gen = new Thread(() => {
          var k = 0
          while (k < evs.length) {
            sleepUntil(start + evs(k)._1)
            val now = tracer.nowMs
            var j = k
            while (j < evs.length && start + evs(j)._1 <= now) j += 1
            val off = mem.addData(evs.slice(k, j).map(_._2).toSeq).json.trim.toLong
            val at = tracer.nowMs
            (k until j).foreach { x => appended(x) = at; offsets(x) = off }
            k = j
          }
        }, "perfbench-generator")
        tracer.span("feed", "perfbench.generator", op) { gen.start(); gen.join() }
        val last = offsets.lastOption.getOrElse(-1L)
        val drained = tracer.span("drain", "perfbench.drain", op) {
          val limit = tracer.nowMs + drainLimitMs
          while (commits.committed < last && tracer.nowMs < limit && mgr.status(name) == "running")
            Thread.sleep(2)
          commits.committed >= last
        }
        val status = mgr.status(name)
        val tStop0 = tracer.nowMs
        tracer.span("stop", "graft.plans.PipelineManager", op)(mgr.stop(name))
        (tSched, start, status, drained, tStop0, tracer.nowMs)
      }
    spark.sparkContext.removeSparkListener(commits)
    val sink = tracer.span("sink", "perfbench", op)(spark.table(s"${name}_gated").collect())
    val ref = tracer.span("reference", "perfbench", op)(
      Pipeline.compile(deployment(name), sources(frame(evs.map(_._2).toSeq)))("gated").collect())
    val (got, want) = (Fingerprint.of(sink), Fingerprint.of(ref))
    if (got != want) {
      System.err.println(sink.map(_.toString).sorted.take(5).mkString("sink: ", " | ", ""))
      System.err.println(ref.map(_.toString).sorted.take(5).mkString("ref:  ", " | ", ""))
    }
    val batches = commits.seen.asScala.toSeq.sortBy(_._1)
    // commit time of the batch that consumed offset o; null if none did
    val commitOf = (o: Long) => batches.find(_._1 >= o).map(b => b._2: java.lang.Double).orNull
    val firstCommit = batches.headOption.map(_._2 - tSched: java.lang.Double).orNull
    val error =
      if (status != "running") s"deployment $status before stop"
      else if (!drained) s"not drained within $drainLimitMs ms"
      else if (got != want) s"sink $got differs from batch reference $want"
      else null
    Map("op" -> op, "rate" -> rate, "events" -> evs.length, "ok" -> (error == null),
      "error" -> error, "fp" -> got, "ref_fp" -> want,
      "wall_s" -> (tEnd - t0) / 1000.0,
      "schedule_ms" -> (tSched - t0), "start_ms" -> firstCommit,
      "stop_ms" -> (tEnd - tStop0),
      "due_ms" -> evs.map(e => firstStart + e._1).toSeq,
      "appended_ms" -> appended.toSeq,
      "commit_ms" -> offsets.toSeq.map(commitOf),
      "batches" -> batches.map(b => Seq(b._1, b._2, b._3)))
  }

  def measure(): Map[String, Any] = {
    val p = probe()
    val res = tracer.span("ladder", "perfbench") {
      rates.zipWithIndex.map { case (r, i) =>
        settle(p, s"r${i + 1}")
        step(i, r)
      }
    }
    settle(p, "teardown")
    Map("mode" -> "live", "steps" -> res) ++
      p.map(pr => "trace" -> Map("counts" -> pr.counts, "batch_ms" -> pr.batchDurations))
  }
}

object LiveRun {
  val enc: org.apache.spark.sql.Encoder[LiveEv] = org.apache.spark.sql.Encoders.product[LiveEv]
}
