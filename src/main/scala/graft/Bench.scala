package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR, printing one JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced with a noop-format write (full computation of
  * every column — a count() would let Catalyst prune the projections
  * we mean to measure). One unmeasured warm-up query first so JIT/
  * classloading doesn't land on the first measured query.
  */
object Bench {

  /** Per-query session forensics (opt-in: SPARK_GRAFT_BENCH_STATS=1).
    * Captures the metrics that distinguish the candidate mechanisms for
    * late-session slowdowns in a long bench run:
    *  - task-attributed spill + GC time (SparkListener over TaskEnd) —
    *    heap pressure / ObjectHashAggregate sort-fallback shows up here;
    *  - JIT code-cache occupancy (MemoryPoolMXBean) — whole-stage
    *    codegen emits classes per query; a full code cache disables the
    *    JIT compiler and the whole session drops to interpreted speed;
    *  - driver-JVM cumulative GC ms — collection debt between queries.
    * One JSON line per measured run → bench_stats.jsonl. Local-mode
    * driver and executors share the JVM, so the JVM beans see the
    * executor side too.
    */
  private final class StatsProbe(sc: org.apache.spark.SparkContext) {
    import java.lang.management.ManagementFactory
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    private val spillMem = new java.util.concurrent.atomic.AtomicLong
    private val spillDisk = new java.util.concurrent.atomic.AtomicLong
    private val taskMs = new java.util.concurrent.atomic.AtomicLong
    private val taskGcMs = new java.util.concurrent.atomic.AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          taskMs.addAndGet(m.executorRunTime)
          taskGcMs.addAndGet(m.jvmGCTime)
        }
      }
    })
    private def jvmGcMs: Long = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    }
    private def poolUsed(prefix: String): Long = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith(prefix)).map(_.getUsage.getUsed).sum
    }
    def measure[A](name: String, run: Int)(body: => A): A = {
      val gc0 = jvmGcMs
      spillMem.set(0); spillDisk.set(0); taskMs.set(0); taskGcMs.set(0)
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus drains asynchronously; give TaskEnd events a beat
      Thread.sleep(50)
      val line = s"""{"q":"$name","run":$run,"sec":${f"$sec%.3f"},""" +
        s""""taskMs":${taskMs.get},"taskGcMs":${taskGcMs.get},""" +
        s""""spillMem":${spillMem.get},"spillDisk":${spillDisk.get},""" +
        s""""jvmGcMs":${jvmGcMs - gc0},""" +
        s""""codeCacheMB":${poolUsed("CodeHeap") / 1048576},""" +
        s""""metaspaceMB":${poolUsed("Metaspace") / 1048576},""" +
        s""""heapMB":${(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) / 1048576}}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_stats.jsonl"),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      r
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Engine-wide Catalyst additions (range-join rewrite +
      // graft_long_dot): the engine's own entry points get the same
      // protections a spark-submit user gets via spark.sql.extensions.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // InferFiltersFromGenerate clones a Generate's entire child
      // expression into a synthesized filter and pushes it below the
      // repartition — for explode(shingles(text)) that re-runs the
      // whole corpus shingling serially in the single-task scan stage
      // (measured 2-4x on every shingle-exploding query). The rule
      // only ever skips empty/null arrays, which explode drops anyway.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val probe =
      if (sys.env.contains("SPARK_GRAFT_BENCH_STATS"))
        Some(new StatsProbe(spark.sparkContext))
      else None

    def force(name: String, run: Int = 0): Double = {
      def body(): Unit =
        // Scoped run: any intermediate the query materializes
        // (checkpointed band/edge tables, staging caches) is released
        // as soon as the action finishes — round 5's bench recorded
        // the shingle family 2–4× its isolated cost because those
        // non-evictable blocks accumulated across the session.
        graft.Resources.withScope {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
      val t0 = System.nanoTime()
      val t = try {
        probe match {
          case Some(p) => p.measure(name, run)(body())
          case None => body()
        }
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
      // Belt-and-braces between measured queries (unmeasured): drop
      // any cached plan the scope didn't know about. Deliberately
      // NOT dropped: the session-scoped cluster-label table d10
      // publishes for d12 (a localCheckpoint, outside CacheManager).
      spark.catalog.clearCache()
      t
    }

    // Optional args: bench only the named queries (default: all).
    // SPARK_GRAFT_BENCH_SEED permutes the run order deterministically:
    // any query whose cost depends on its predecessors is a hygiene
    // bug by definition, and two seeds agreeing within noise is the
    // cheap standing proof that none does (round 6's d03 artifact
    // would have surfaced a round earlier under a second seed).
    val registryOrder =
      if (args.nonEmpty) args.flatMap(_.split(",")).toSeq
      else QueryRegistry.all.map(_.name)
    val names = sys.env.get("SPARK_GRAFT_BENCH_SEED") match {
      case Some(seed) => new scala.util.Random(seed.toLong)
        .shuffle(registryOrder)
      case None => registryOrder
    }
    force(names.head) // warm-up, unmeasured
    // Per query: min of two runs (drops one-off JIT/GC/OS noise — the
    // shared container shows ±30% single-run variance), with a GC
    // between queries so collection debt doesn't bleed across timings.
    // STREAMING MOUNTS get a third run: they sit on a micro-batch
    // wall-clock floor (~0.5 s per batch), the most load-sensitive
    // query class on a shared host — round 12's driver printed e42 at
    // 10.1 s against a 2.4-3.3 s five-run evidence band because a
    // single box hiccup on a 4-batch floor survives min-of-two.
    val results = names.map { n =>
      val runs = if (n.contains("stream")) 3 else 2
      val ts = (1 to runs).map { r =>
        val v = force(n, r); System.gc(); v
      }
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // Full-precision record of every query goes to bench.json.
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      (fullJson + "\n").getBytes("UTF-8"))
    // The harness captures only the LAST 2000 CHARS of stdout, so the
    // final line must fit entirely inside that window or its head gets
    // truncated and the JSON is unparseable (BENCH_r01/r02 both hit
    // this). Emit a compact line: 3-decimal values, slowest queries
    // first, adding entries only while the line stays under budget.
    def fmt(v: Double): String = f"$v%.3f"
    val budget = 1500
    val header =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","queries":{"""
    val footer = "}}"
    val entries = results.sortBy { case (_, v) => -v }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    var used = header.length + footer.length
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    entries.foreach { e =>
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val json = header + kept.mkString(",") + footer
    graft.operators.DedupQueries.invalidateLabels(spark)
    graft.operators.GraphQueries.invalidateEdges(spark)
    spark.stop()
    println(json)
    System.out.flush()
    // The total sums only the queries that ran, so a failure would make
    // the suite look faster: name every query whose runs all failed and
    // exit non-zero.
    val failed = results.collect { case (n, v) if v < 0 => n }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
