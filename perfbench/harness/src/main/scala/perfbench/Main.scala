package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It drives the program only through its
  * public entry points (`QueryRegistry.all` / `Q.fn`,
  * `Resources.withScope`, `Pipeline.compile`, `PipelineManager`) and
  * writes raw measurements as one JSON record; `perfbench/run.py`
  * turns them into metrics.
  *
  * {{{
  * Main --mode pass --sf <dir> --queries a,b,c --warmup q --out f.json ...
  * Main --mode live --schedule events.csv --rates 50,200,2000 --out f.json ...
  * }}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tracer = new Tracer(args.getOrElse("trace", "0") == "1")
    val cpus = args("cpus").toInt
    val work = args("work")
    val run = args("mode") match {
      case "pass" => new PassRun(args, cpus, work, tracer)
      case "live" => new LiveRun(args, cpus, work, tracer)
    }
    val setupS = run.setup()
    val record = run.measure()
    if (tracer.enabled) Json.writeLines(args("spans"), tracer.all)
    Json.write(args("out"), record ++ Map("setup_s" -> setupS, "jvm" -> Jvm.stats,
      "master" -> s"local[$cpus]", "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** JSON output of the harness's records, rendered with json4s. */
object Json {
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats

  def render(v: Any): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.Extraction.decompose(v))

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (render(v) + "\n").getBytes("UTF-8"))

  def writeLines(path: String, vs: Iterable[Any]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try vs.foreach(v => w.println(render(v))) finally w.close()
  }
}

/** Session factory with the engine configs `graft.Bench` sets. */
object Session {
  def build(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Set-up: JVM start to a session built, fixtures staged and the
  * unmeasured warm-up done, once per JVM. */
abstract class Run(cpus: Int, work: String, tracer: Tracer) {
  var spark: SparkSession = _
  protected def stage(): Unit
  protected def warmup(): Unit

  def setup(): Double = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    tracer.span("setup", "perfbench.setup") {
      spark = tracer.span("session", "perfbench.setup")(Session.build(cpus, work))
      tracer.span("fixtures", "perfbench.setup")(stage())
      tracer.span("warmup", "perfbench.setup")(warmup())
    }
    (tracer.nowMs - t0) / 1000.0
  }

  def probe(): Option[Probe] =
    if (tracer.enabled) Some(new Probe(spark, tracer)) else None

  /** Traced runs only: let the listener bus deliver an operation's
    * events before attribution moves on (outside every timed window). */
  def settle(p: Option[Probe], next: String): Unit = p.foreach { pr =>
    Thread.sleep(40); pr.switchTo(next)
  }

  def measure(): Map[String, Any]
}

/** One pass over registry queries: each one built with `Q.fn`, run to
  * a complete result (`collect`) inside `Resources.withScope`, and
  * fingerprinted outside the timed window. */
final class PassRun(args: Map[String, String], cpus: Int, work: String, tracer: Tracer)
    extends Run(cpus, work, tracer) {
  private val sf = args("sf")
  private val names = args("queries").split(",").toSeq
  private val registry = graft.QueryRegistry.all.map(q => q.name -> q).toMap
  private val dump = args.get("dump")

  protected def stage(): Unit = graft.Tables.all.foreach(t => graft.Tables.load(spark, sf, t).schema)
  protected def warmup(): Unit = args("warmup").split(",").foreach { n =>
    graft.Resources.withScope(registry(n).fn(spark, sf).collect())
    spark.catalog.clearCache()
  }

  def measure(): Map[String, Any] = {
    args.get("oracle").foreach(f => Json.write(f,
      names.flatMap(n => registry(n).oracle.map(n -> _)).toMap))
    val p = probe()
    val sc = spark.sparkContext
    val ops = tracer.span("pass", "perfbench") {
      names.map { name =>
        settle(p, name)
        sc.setJobGroup(s"pb:$name", name, interruptOnCancel = false)
        var buildS = 0.0
        var bodyEnd = 0.0
        var schema: org.apache.spark.sql.types.StructType = null
        val t0 = tracer.nowMs
        val result = try Right(tracer.span("query", "perfbench.op", name) {
          graft.Resources.withScope {
            val b0 = tracer.nowMs
            val df = tracer.span("build", "graft.queries", name)(registry(name).fn(spark, sf))
            buildS = (tracer.nowMs - b0) / 1000.0
            schema = df.schema
            val rows = tracer.span("action", "spark", name)(df.collect())
            bodyEnd = tracer.nowMs
            rows
          }
        }) catch { case e: Throwable => Left(e) }
        val t1 = tracer.nowMs
        sc.clearJobGroup()
        if (bodyEnd > 0) tracer.record("scope.release", "graft.Resources", name, bodyEnd, t1)
        val base = Map("name" -> name, "wall_s" -> (t1 - t0) / 1000.0, "build_s" -> buildS,
          "release_s" -> (if (bodyEnd > 0) (t1 - bodyEnd) / 1000.0 else 0.0))
        val rec = result match {
          case Right(rows) =>
            val fp = tracer.span("fingerprint", "perfbench")(Fingerprint.of(rows))
            dump.foreach { d =>
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$d/$name")
            }
            base ++ Map("ok" -> true, "rows" -> rows.length, "fp" -> fp)
          case Left(e) =>
            System.err.println(s"[perfbench] $name failed: $e")
            base ++ Map("ok" -> false, "error" -> String.valueOf(e.getMessage).take(300))
        }
        spark.catalog.clearCache()
        rec
      }
    }
    settle(p, "teardown")
    Map("mode" -> "pass", "ops" -> ops) ++
      p.map(pr => "trace" -> Map("counts" -> pr.counts, "batch_ms" -> pr.batchDurations))
  }
}

/** Per-JVM figures: peak resident set (VmHWM), GC time, JIT code
  * cache in use and peak heap. */
object Jvm {
  def stats: Map[String, Any] = {
    import java.lang.management.ManagementFactory
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Map(
      "rss_peak_mb" -> hwmKb / 1024.0,
      "gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0,
      "code_cache_mb" -> pools.filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0,
      "heap_peak_mb" -> pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}
