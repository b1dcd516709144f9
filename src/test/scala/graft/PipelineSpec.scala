package graft

import graft.plans.Pipeline
import graft.plans.Pipeline._
import graft.plans.{PipelineManager, TaskReport, TaskStatus}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Deployment lifecycle tests mirroring the reference's task-system
  * integration tests (/root/reference/tests/system/test_task_system.py):
  * validation, batch compile of a multi-operator DAG, and the
  * schedule/start/status/stop lifecycle on a real streaming query.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("pipeline-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def env(rows: Seq[(Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.toDF("r", "seq")
      .select(col("r._1").as("ts"), col("r._2").as("value"),
        lit(null).cast("string").as("text"), lit(false).as("paused"),
        col("seq").cast("long").as("seq"))
  }

  private val dag = Deployment("d1", Seq(
    TaskSpec("src_a", SourceOp(IOMeta.number), Nil, "a"),
    TaskSpec("src_ctrl", SourceOp(IOMeta.number), Nil, "ctrl"),
    TaskSpec("doubler", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"), "calc"),
    TaskSpec("gate", GateOp(), Seq("calc", "ctrl"), "gated"),
    TaskSpec("fmt", NumberToTextOp, Seq("gated"), "out")))

  test("validate catches bad wiring, arity, types and cycles") {
    val badWire = Deployment("x", Seq(
      TaskSpec("g", GateOp(), Seq("nope", "nope2"), "o")))
    assert(Pipeline.validate(badWire).exists(_.contains("unknown input")))

    val badArity = Deployment("x", Seq(
      TaskSpec("s", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("g", GateOp(), Seq("a"), "o")))
    assert(Pipeline.validate(badArity).exists(_.contains("expects 2 inputs")))

    val badType = Deployment("x", Seq(
      TaskSpec("s", SourceOp(IOMeta.text), Nil, "a"),
      TaskSpec("c", CalculatorOp("a", Seq("a")), Seq("a"), "o")))
    assert(Pipeline.validate(badType).exists(_.contains("incompatible")))

    val cycle = Deployment("x", Seq(
      TaskSpec("u", TimestampUpdaterOp(1), Seq("b"), "a"),
      TaskSpec("v", TimestampUpdaterOp(1), Seq("a"), "b")))
    assert(Pipeline.validate(cycle).exists(_.contains("cycle")))

    assert(Pipeline.validate(dag).isEmpty)
  }

  test("streaming compile mounts the DAG's machines as CHAINED " +
      "flatMapGroupsWithState in one query; state crosses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StatefulRunner.KEv
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val a = MemoryStream[KEv]
    val c = MemoryStream[KEv]
    def senv(ms: MemoryStream[KEv]) = ms.toDS().toDF()
      .select(col("ts"), col("value"), col("text"), col("paused"),
        col("seq"))
    // same DAG minus the trailing formatter: calc -> gate, two
    // stateful machines chained in ONE streaming query
    val dep = Deployment("sdag", Seq(
      TaskSpec("src_a", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("src_ctrl", SourceOp(IOMeta.number), Nil, "ctrl"),
      TaskSpec("doubler", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"),
        "calc"),
      TaskSpec("gate", GateOp(), Seq("calc", "ctrl"), "gated")))
    val out = Pipeline.compile(dep,
      Map("a" -> senv(a), "ctrl" -> senv(c)))("gated")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("sdag_out")
      .outputMode("append").start()
    try {
      def kev(topic: Int, ts: Long, v: Double, seq: Long) =
        KEv("0", topic, ts, v, null, paused = false, seq = seq)
      // batch 1: gate opens at ts=20 — control state must persist
      c.addData(kev(0, 20L, 1.0, 1))
      q.processAllAvailable()
      // batch 2: data at 30 passes through calc (x2+1) AND the gate
      // opened a batch earlier; data at 10 arrived before the open
      // per the fold order within its batch
      a.addData(kev(0, 30L, 2.0, 2))
      q.processAllAvailable()
      // batch 3: gate closes at 40, data at 50 is dropped
      c.addData(kev(0, 40L, 0.0, 3))
      a.addData(kev(0, 50L, 3.0, 4))
      q.processAllAvailable()
      val got = spark.table("sdag_out").filter(!col("paused"))
        .select("ts", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == Seq((30L, 5.0)))
      // the executed micro-batch plan genuinely chains two
      // FlatMapGroupsWithState operators (calc's, then the gate's)
      val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      val n = "FlatMapGroupsWithState".r.findAllIn(plan).length
      assert(n == 2, s"expected 2 chained fMGWS, got $n\n${plan.take(600)}")
    } finally q.stop()
  }

  test("multi-pipeline compile: the pipe column multiplexes one DAG " +
      "across isolated instances; mixed piped/unpiped inputs rejected") {
    import spark.implicits._
    def penv(rows: Seq[(String, Long, Double)]): DataFrame =
      rows.zipWithIndex.map { case ((p, ts, v), i) =>
        (p, ts, v, null: String, false, i.toLong)
      }.toDF("pipe", "ts", "value", "text", "paused", "seq")
    val dep = Deployment("mp", Seq(
      TaskSpec("src_a", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("src_ctrl", SourceOp(IOMeta.number), Nil, "ctrl"),
      TaskSpec("doubler", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"),
        "calc"),
      TaskSpec("gate", GateOp(), Seq("calc", "ctrl"), "gated"),
      TaskSpec("fmt", NumberToTextOp, Seq("gated"), "out")))
    // pipe p0: gate opens at 20; pipe p1: stays closed — identical
    // data rows, opposite outcomes, proving state isolation
    val a = penv(Seq(("p0", 30L, 2.0), ("p1", 30L, 2.0)))
    val c = penv(Seq(("p0", 20L, 1.0), ("p1", 20L, 0.0)))
    val outs = Pipeline.compile(dep, Map("a" -> a, "ctrl" -> c))
    val got = outs("out").filter(!col("paused"))
      .select("pipe", "ts", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("p0", 30L, "5.00"))) // p1's gate never opened
    // the pipe column survives the stateless formatter too
    assert(outs("out").columns.contains("pipe"))
    // mixed piped/unpiped inputs to one machine are rejected loudly
    val bad = intercept[IllegalArgumentException] {
      Pipeline.compile(dep, Map("a" -> a, "ctrl" -> env(Seq((20L, 1.0)))))
    }
    assert(bad.getMessage.contains("pipe"))
  }

  test("calculator op validates formulas at spec-build time") {
    intercept[IllegalArgumentException] {
      CalculatorOp("a + unknown_var", Seq("a"))
    }
  }

  test("batch compile runs the whole DAG: calc -> gate -> number_to_text") {
    val a = env(Seq((10L, 1.0), (30L, 2.0), (50L, 3.0)))
    val ctrl = env(Seq((20L, 1.0), (40L, 0.0)))
    val streams = Pipeline.compile(dag, Map("a" -> a, "ctrl" -> ctrl))
    // gate opens at ts=20, closes at 40: calc(2.0*2+1=5) at 30 passes
    val out = streams("out").filter(!col("paused"))
      .select("ts", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(out == Seq((30L, "5.00")))
    // the gate's output-pause transitions (gate.py:82-85) propagate
    // through the downstream stateless task as in-band markers
    val markers = streams("out").filter(col("paused"))
      .select("ts", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(markers == Seq((20L, 0.0), (40L, 1.0)))
    // intermediate streams are addressable too (named topics)
    val calc = streams("calc").select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(calc == Seq(3.0, 5.0, 7.0))
  }

  test("wide op catalog compiles and runs in batch: switch, media " +
      "switch, detector, time buffer, repeater, time->text, " +
      "concatenator, formatter, chat") {
    import spark.implicits._
    def src(rows: Seq[(Long, Double, String)]): DataFrame =
      rows.zipWithIndex.map { case ((ts, v, tx), i) =>
        (ts, v, tx, false, i.toLong)
      }.toDF("ts", "value", "text", "paused", "seq")
    val d0 = src(Seq((10L, 1.0, null), (40L, 1.1, null)))
    val c0 = src(Seq((5L, 1.0, null)))
    val d1 = src(Seq((20L, 2.0, null), (50L, 2.1, null)))
    val c1 = src(Seq((30L, 5.0, null)))
    // media frames: text "k" marks a keyframe
    val fd0 = src(Seq((10L, 1.0, "k"), (40L, 1.1, null)))
    val fd1 = src(Seq((20L, 2.0, "k"), (50L, 2.1, "k")))
    val txt = src(Seq((11L, Double.NaN, "a"), (21L, Double.NaN, "b")))
    val txt2 = src(Seq((15L, Double.NaN, "x")))
    val flush = src(Seq((25L, 1.0, null)))
    val ticks = src(Seq((15L, 0.0, null), (45L, 0.0, null), (55L, 0.0, null)))
    val anyTs = IOMeta(Map("type" -> "ts"))
    val dep = Deployment("wide", Seq(
      TaskSpec("sd0", SourceOp(IOMeta.number), Nil, "d0"),
      TaskSpec("sc0", SourceOp(IOMeta.number), Nil, "c0"),
      TaskSpec("sd1", SourceOp(IOMeta.number), Nil, "d1"),
      TaskSpec("sc1", SourceOp(IOMeta.number), Nil, "c1"),
      TaskSpec("sfd0", SourceOp(anyTs), Nil, "fd0"),
      TaskSpec("sfd1", SourceOp(anyTs), Nil, "fd1"),
      TaskSpec("stxt", SourceOp(IOMeta.text), Nil, "txt"),
      TaskSpec("stxt2", SourceOp(IOMeta.text), Nil, "txt2"),
      TaskSpec("sflush", SourceOp(IOMeta.number), Nil, "flush"),
      TaskSpec("sticks", SourceOp(anyTs), Nil, "ticks"),
      TaskSpec("sw", SwitchOp(2), Seq("d0", "c0", "d1", "c1"), "sw"),
      TaskSpec("ms", MediaSwitchOp(2), Seq("fd0", "c0", "fd1", "c1"), "ms"),
      TaskSpec("det", MessageDetectorOp(100L), Seq("sw"), "live"),
      TaskSpec("tb", TimeBufferOp(15L), Seq("sw"), "tb"),
      TaskSpec("rep", RepeaterOp, Seq("sw", "ticks"), "rep"),
      TaskSpec("ttt", TimeToTextOp("%H:%M:%S"), Seq("sw"), "ttt"),
      TaskSpec("cat", StringConcatenatorOp, Seq("txt", "flush"), "cat"),
      TaskSpec("fmt", TextFormatterOp("{a}|{b}", Seq("a", "b")),
        Seq("txt", "txt2"), "fmt"),
      TaskSpec("chat", ChatOp(None, 4, ms => "r" + ms.length),
        Seq("cat"), "chat")))
    val out = Pipeline.compile(dep, Map(
      "d0" -> d0, "c0" -> c0, "d1" -> d1, "c1" -> c1, "fd0" -> fd0,
      "fd1" -> fd1, "txt" -> txt, "txt2" -> txt2, "flush" -> flush,
      "ticks" -> ticks))
    def vals(s: String) = out(s).filter(!col("paused"))
      .orderBy("ts").select("value").as[Double].collect().toSeq
    def texts(s: String) = out(s).filter(!col("paused"))
      .orderBy("ts").select("text").as[String].collect().toSeq
    // switch: ctrl0=1@5 selects pair0 (1.0@10 passes, 2.0@20 dropped);
    // ctrl1=5@30 selects pair1 (1.1@40 dropped, 2.1@50 passes)
    assert(vals("sw") == Seq(1.0, 2.1))
    // media switch: once ctrl1=5@30 selects pair1, pair0 data stops
    // immediately (mediaswitch.py:18 gates on selected), and pair1 data
    // starts at its next keyframe (@50) — the cutover gap is reference
    // behavior
    assert(vals("ms") == Seq(1.0, 2.1))
    // detector: 1 per message, trailing 0 at lastTs+timeout
    assert(vals("live") == Seq(1.0, 1.0, 0.0))
    // time buffer (15ms, message time): 1.0@10 released when 2.1@50
    // arrives; the tail stays buffered at end-of-batch
    assert(vals("tb") == Seq(1.0))
    // repeater: hold 1.0 over ticks @15/@45, then 2.1 @55
    assert(vals("rep") == Seq(1.0, 1.0, 2.1))
    // time->text: strftime of the epoch-ms timestamps
    assert(texts("ttt") == Seq("00:00:00", "00:00:00"))
    // concatenator: "a"+"b" flushed by the rising edge @25
    assert(texts("cat") == Seq("ab"))
    // formatter emits on every arrival with last values
    assert(texts("fmt") == Seq("a|", "a|x", "b|x"))
    // chat: one user message in context -> deterministic reply
    assert(texts("chat") == Seq("r1"))
  }

  test("source pause markers reach the gate's fail mode through the DSL " +
      "(gate.py:38-44 end-to-end)") {
    import spark.implicits._
    // control stream carries an in-band pause marker at ts=25 and a
    // resume (flag 0.0) at ts=45 — a source CAN produce pause rows now
    def envP(rows: Seq[(Long, Double, Boolean)]): DataFrame =
      rows.zipWithIndex.toDF("r", "seq")
        .select(col("r._1").as("ts"), col("r._2").as("value"),
          lit(null).cast("string").as("text"), col("r._3").as("paused"),
          col("seq").cast("long").as("seq"))
    val a = env(Seq((10L, 1.0), (30L, 2.0), (50L, 3.0)))
    val ctrl = envP(Seq((20L, 1.0, false),  // open
      (25L, 1.0, true),                     // control topic pauses
      (45L, 0.0, true)))                    // control topic resumes
    def run(failOpen: Boolean) = {
      val dep = Deployment("p", Seq(
        TaskSpec("sa", SourceOp(IOMeta.number), Nil, "a"),
        TaskSpec("sc", SourceOp(IOMeta.number), Nil, "ctrl"),
        TaskSpec("g", GateOp(failOpen), Seq("a", "ctrl"), "gated")))
      val out = Pipeline.compile(dep, Map("a" -> a, "ctrl" -> ctrl))("gated")
      (out.filter(!col("paused")).select("value").collect()
          .map(_.getDouble(0)).sorted.toSeq,
        out.filter(col("paused")).select("ts", "value").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq)
    }
    // fail-OPEN: the pause is ignored, data at 30 still flows
    assert(run(failOpen = true) ==
      ((Seq(2.0, 3.0), Seq((20L, 0.0)))))
    // fail-CLOSED: 30 is dropped while paused; resume at 45 reopens
    assert(run(failOpen = false) ==
      ((Seq(3.0), Seq((20L, 0.0), (25L, 1.0), (45L, 0.0)))))
  }

  test("switch mirrors the SELECTED input's pause to its output " +
      "through the DSL (switch.py:46-51 end-to-end)") {
    import spark.implicits._
    def envP(rows: Seq[(Long, Double, Boolean)]): DataFrame =
      rows.zipWithIndex.toDF("r", "seq")
        .select(col("r._1").as("ts"), col("r._2").as("value"),
          lit(null).cast("string").as("text"), col("r._3").as("paused"),
          col("seq").cast("long").as("seq"))
    // pair 0 data pauses at 25 and resumes at 45 while SELECTED; its
    // markers must surface on the switch output. Pair 1 stays silent.
    val d0 = envP(Seq((10L, 1.0, false), (25L, Double.NaN, true),
      (45L, 0.0, true), (50L, 2.0, false)))
    val c0 = env(Seq((5L, 1.0)))
    val d1 = env(Seq((30L, 9.0))) // not selected → dropped, no markers
    val c1 = env(Seq.empty)
    val dep = Deployment("swp", Seq(
      TaskSpec("sd0", SourceOp(IOMeta.number), Nil, "d0"),
      TaskSpec("sc0", SourceOp(IOMeta.number), Nil, "c0"),
      TaskSpec("sd1", SourceOp(IOMeta.number), Nil, "d1"),
      TaskSpec("sc1", SourceOp(IOMeta.number), Nil, "c1"),
      TaskSpec("sw", SwitchOp(2), Seq("d0", "c0", "d1", "c1"), "sw")))
    val out = Pipeline.compile(dep,
      Map("d0" -> d0, "c0" -> c0, "d1" -> d1, "c1" -> c1))("sw")
    val data = out.filter(!col("paused")).select("ts", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val markers = out.filter(col("paused")).select("ts", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(data == Seq((10L, 1.0), (50L, 2.0)))
    assert(markers == Seq((25L, 1.0), (45L, 0.0)))
  }

  test("a deployment can end in an output container: gate -> mux with " +
      "bounded desync (outputcontainer.py wired into the DSL)") {
    import graft.streaming.StateMachines.OcStreamCfg
    val audio = env(Seq((1000L, 1.0), (1050L, 2.0)))
    val video = env(Seq((1010L, 3.0), (1040L, 4.0)))
    val dep = Deployment("mux", Seq(
      TaskSpec("sa", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("sv", SourceOp(IOMeta.number), Nil, "v"),
      TaskSpec("oc", OutputContainerOp(Seq(
        OcStreamCfg(1, 32000, 1024, "audio"),
        OcStreamCfg(1, 30, 1, "video")), maxDesync = 100),
        Seq("a", "v"), "muxed")))
    def trace(streams: Map[String, org.apache.spark.sql.DataFrame],
        out: String) =
      streams(out).select("ts", "value", "text").collect()
        .map(r => (r.getLong(0), r.getDouble(1).toLong, r.getString(2)))
        .sortBy(x => (x._1, x._3)).toSeq
    val out = trace(Pipeline.compile(dep,
      Map("a" -> audio, "v" -> video)), "muxed")
    // the ContainerSpec hand-trace: barrier at (1000,1010), then
    // duration-ordered interleave with quantized dts
    assert(out == Seq((1000L, 0L, "audio"), (1010L, 0L, "video"),
      (1040L, 1L, "video"), (1050L, 1600L, "audio")))
    // the SAME deployment through the stored-JSON round trip (the
    // outputcontainer kind: video/audio tracks, max_desync, the
    // mux-trace out_topic) produces the identical trace — stream
    // labels canonicalize to videoN/audioN, the timing config and
    // wiring survive exactly
    val loaded = graft.plans.DeploymentJson.load(
      graft.plans.DeploymentJson.write(dep))
    val lsrc = loaded.deployment.tasks.filter(_.op.isInstanceOf[SourceOp])
    val byName = lsrc.map(t => t.name -> t.output).toMap
    val got2 = trace(Pipeline.compile(loaded.deployment,
      Map(byName("sa") -> audio, byName("sv") -> video)),
      loaded.deployment.tasks.find(_.op.isInstanceOf[OutputContainerOp])
        .get.output)
    assert(got2.map(x => (x._1, x._2)) == out.map(x => (x._1, x._2)))
    assert(got2.map(_._3) == Seq("audio0", "video0", "video0", "audio0"))
  }

  test("pause markers propagate through a STREAMING deployment across " +
      "micro-batches (gate fail-closed end-to-end)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Boolean, Long)]
    val memC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Boolean, Long)]
    def env(m: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Boolean, Long)]) =
      m.toDS().toDF("ts", "value", "paused", "seq")
        .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
          col("paused"), col("seq"))
    val dep = Deployment("pp", Seq(
      TaskSpec("sa", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("sc", SourceOp(IOMeta.number), Nil, "ctrl"),
      TaskSpec("g", GateOp(failOpen = false), Seq("a", "ctrl"), "gated")))
    val out = Pipeline.compile(dep,
      Map("a" -> env(memA), "ctrl" -> env(memC)))("gated")
    val q = out.writeStream.format("memory").queryName("pp_gated")
      .outputMode("append").start()
    try {
      // batch 1: open, one data row through
      memC.addData((20L, 1.0, false, 0L)); memA.addData((30L, 2.0, false, 1L))
      q.processAllAvailable()
      // batch 2: the control topic pauses (carried state) → closed
      memC.addData((40L, 1.0, true, 2L)); memA.addData((50L, 3.0, false, 3L))
      q.processAllAvailable()
      // batch 3: resume marker → reopens with the remembered control
      memC.addData((60L, 0.0, true, 4L)); memA.addData((70L, 4.0, false, 5L))
      q.processAllAvailable()
      val rows = spark.table("pp_gated")
        .select("ts", "value", "paused").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).sortBy(x => (x._1, x._2))
      assert(rows.filter(!_._3).map(x => (x._1, x._2)).toSeq ==
        Seq((30L, 2.0), (70L, 4.0))) // 50 dropped while paused
      assert(rows.filter(_._3).map(x => (x._1, x._2)).toSeq ==
        Seq((20L, 0.0), (40L, 1.0), (60L, 0.0))) // open, pause, reopen
    } finally q.stop()
  }

  test("SwitchOp runs in STREAMING mode with control state carried " +
      "across micro-batches (dual-mode parity for the widened catalog)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type M = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    def mk(): M =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    def env(m: M) = m.toDS().toDF("ts", "value", "seq")
      .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"))
    val (d0, c0, d1, c1) = (mk(), mk(), mk(), mk())
    val dep = Deployment("sws", Seq(
      TaskSpec("s0", SourceOp(IOMeta.number), Nil, "d0"),
      TaskSpec("s1", SourceOp(IOMeta.number), Nil, "c0"),
      TaskSpec("s2", SourceOp(IOMeta.number), Nil, "d1"),
      TaskSpec("s3", SourceOp(IOMeta.number), Nil, "c1"),
      TaskSpec("sw", SwitchOp(2), Seq("d0", "c0", "d1", "c1"), "sw")))
    val out = Pipeline.compile(dep, Map("d0" -> env(d0), "c0" -> env(c0),
      "d1" -> env(d1), "c1" -> env(c1)))("sw")
    val q = out.writeStream.format("memory").queryName("sws_sw")
      .outputMode("append").start()
    try {
      // batch 1: pair0 selected, its data passes, pair1's dropped
      c0.addData((5L, 1.0, 0L))
      d0.addData((10L, 1.0, 1L)); d1.addData((20L, 2.0, 2L))
      q.processAllAvailable()
      // batch 2: pair1 takes over via REMEMBERED control comparison —
      // proof the selection state crossed the micro-batch boundary
      c1.addData((30L, 5.0, 3L))
      d0.addData((40L, 1.1, 4L)); d1.addData((50L, 2.1, 5L))
      q.processAllAvailable()
      val got = spark.table("sws_sw").filter(!col("paused"))
        .select("ts", "value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == Seq((10L, 1.0), (50L, 2.1)))
    } finally q.stop()
  }

  test("per-task status: schedule -> start -> stop transitions are " +
      "reported per task (task.py:80-88, task_web.py:267-299)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    val src = mem.toDS().toDF("ts", "value", "seq")
      .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"))
    val dep = Deployment("st1", Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("calc", CalculatorOp("a + 1", Seq("a")), Seq("a"), "out")))
    val mgr = new PipelineManager(spark)
    val reports = scala.collection.mutable.Buffer.empty[TaskReport]
    mgr.onReport(reports += _)

    mgr.schedule(dep, Map("a" -> src), Seq("out"))
    assert(mgr.status("st1") == "scheduled")
    assert(mgr.taskStatus("st1") ==
      Map("src" -> TaskStatus.Scheduled, "calc" -> TaskStatus.Scheduled))
    assert(mgr.taskStatus("st1").values.forall(_.isActive))

    mgr.start("st1")
    assert(mgr.taskStatus("st1").values.toSet == Set(TaskStatus.Running))
    mgr.stop("st1")
    assert(mgr.status("st1") == "stopped")
    assert(reports.map(r => (r.task, r.status)).toSeq == Seq(
      ("src", TaskStatus.Scheduled), ("calc", TaskStatus.Scheduled),
      ("src", TaskStatus.Running), ("calc", TaskStatus.Running),
      ("src", TaskStatus.Stopped), ("calc", TaskStatus.Stopped)))
  }

  test("a crashing task surfaces Failed(error) in per-task status " +
      "(task.py:235)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    val boom = udf((v: Double) =>
      if (v == 42.0) throw new RuntimeException("boom42") else v)
    val src = mem.toDS().toDF("ts", "v", "seq")
      .select(col("ts"), boom(col("v")).as("value"),
        lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"))
    val dep = Deployment("st2", Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("calc", CalculatorOp("a * 2", Seq("a")), Seq("a"), "out")))
    val mgr = new PipelineManager(spark)
    mgr.start(dep, Map("a" -> src), Seq("out"))
    mem.addData((10L, 42.0, 0L))
    intercept[Exception] {
      spark.streams.active.foreach(_.processAllAvailable())
    }
    val st = mgr.taskStatus("st2")
    assert(st.keySet == Set("src", "calc"))
    st.values.foreach {
      case TaskStatus.Failed(err) => assert(err != null)
      case other => fail(s"expected Failed, got $other")
    }
    assert(mgr.status("st2") == "failed")
    // stop() must broadcast and retain the TRUE terminal (Failed, not
    // Stopped) — task.py:227-235's differentiated terminal statuses
    val reports = scala.collection.mutable.Buffer.empty[TaskReport]
    mgr.onReport(reports += _)
    mgr.stop("st2")
    assert(reports.nonEmpty && reports.forall(_.status match {
      case TaskStatus.Failed(_) => true; case _ => false
    }), s"stop must broadcast Failed for a failed deployment: $reports")
    mgr.taskStatus("st2").values.foreach {
      case TaskStatus.Failed(_) => ()
      case other => fail(s"post-stop status must stay Failed, got $other")
    }
  }

  test("two-sink deployments are isolated end-to-end: same task/stream " +
      "names, private checkpoint dirs, independent stop, drained " +
      "source reports Ended (task_web.py:267-315)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def mkSrc(mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]) =
      mem.toDS().toDF("ts", "value", "seq")
        .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
          lit(false).as("paused"), col("seq"))
    // Both deployments use IDENTICAL task and stream names — the
    // reference allocates a fresh topic space per deployment, so this
    // must not collide anywhere (sink tables, state, checkpoints).
    def mkDep(name: String) = Deployment(name, Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("plus", CalculatorOp("a + 1", Seq("a")), Seq("a"), "out1"),
      TaskSpec("scale", CalculatorOp("a * 100", Seq("a")), Seq("a"), "out2")))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    val mgr = new PipelineManager(spark, Some(ckpt))
    val reports = scala.collection.mutable.Buffer.empty[TaskReport]
    mgr.onReport(reports += _)

    val memA = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    val memB = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    mgr.schedule(mkDep("iso_a"), Map("a" -> mkSrc(memA)), Seq("out1", "out2"))
    mgr.start("iso_a")
    mgr.start(mkDep("iso_b"), Map("a" -> mkSrc(memB)), Seq("out1", "out2"))
    assert(mgr.status("iso_a") == "running" && mgr.status("iso_b") == "running")

    memA.addData((10L, 1.0, 0L)); memB.addData((10L, 7.0, 0L))
    spark.streams.active.foreach(_.processAllAvailable())
    // two sinks per deployment, deployment-private tables
    assert(spark.table("iso_a_out1").select("value").as[Double]
      .collect().toSeq == Seq(2.0))
    assert(spark.table("iso_a_out2").select("value").as[Double]
      .collect().toSeq == Seq(100.0))
    assert(spark.table("iso_b_out1").select("value").as[Double]
      .collect().toSeq == Seq(8.0))
    // per-deployment checkpoint dirs exist and are disjoint
    for (d <- Seq("iso_a", "iso_b"); s <- Seq("out1", "out2"))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(ckpt, d, s, "offsets")),
        s"missing checkpoint $d/$s")

    // stopping ONE deployment leaves the other live and processing
    mgr.stop("iso_a")
    assert(mgr.status("iso_a") == "stopped" && mgr.status("iso_b") == "running")
    memB.addData((20L, 8.0, 1L))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(spark.table("iso_b_out1").select("value").as[Double]
      .collect().sorted.toSeq == Seq(8.0, 9.0))

    // a deployment whose queries terminated WITHOUT an explicit
    // mgr.stop (source drained to completion) reports Ended, not
    // Stopped — task.py:230's differentiated terminal
    spark.streams.active
      .filter(_.name.startsWith("iso_b_")).foreach(_.stop())
    mgr.stop("iso_b")
    assert(mgr.taskStatus("iso_b").values.toSet == Set(TaskStatus.Ended))

    val byDep = reports.groupBy(_.deployment)
    assert(byDep("iso_a").map(_.status).distinct ==
      Seq(TaskStatus.Scheduled, TaskStatus.Running, TaskStatus.Stopped))
    assert(byDep("iso_b").map(_.status).distinct ==
      Seq(TaskStatus.Scheduled, TaskStatus.Running, TaskStatus.Ended))
  }

  test("a piped calc -> gate deployment stopped mid-stream restarts " +
      "from its checkpoint root: the final sink equals the batch compile " +
      "over all events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dep = Deployment("rs", Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("ctrl", SourceOp(IOMeta.number), Nil, "play"),
      TaskSpec("calc", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"), "doubled"),
      TaskSpec("gate", GateOp(), Seq("doubled", "play"), "gated")))
    def sources(evs: DataFrame) = {
      def topic(t: Int) = evs.filter(col("topic") === t).select(
        col("ts"), col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"), col("pipe"))
      Map("a" -> topic(0), "play" -> topic(1))
    }
    // two pipes whose gates open before the stop and close after it, so
    // the restarted run's output depends on the restored gate state
    val evs = Seq(
      ("p1", 0, 1L, 1.0), ("p2", 0, 2L, 2.0), ("p1", 1, 3L, 1.0),
      ("p1", 0, 4L, 3.0), ("p2", 1, 5L, 1.0), ("p2", 0, 6L, 4.0),
      ("p1", 0, 7L, 5.0), ("p2", 0, 8L, 6.0), ("p1", 1, 9L, 0.0),
      ("p1", 0, 10L, 7.0), ("p2", 0, 11L, 8.0), ("p2", 1, 12L, 0.0),
      ("p2", 0, 13L, 9.0)).zipWithIndex.map { case ((p, t, ts, v), i) =>
        PipedEv(p, t, ts, v, i.toLong) }
    val root = java.nio.file.Files.createTempDirectory("graft_restart_").toString
    val mgr = new PipelineManager(spark, Some(root))
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PipedEv]
    def run(part: Seq[PipedEv]): Unit = {
      mgr.start(dep, sources(mem.toDF()), Seq("gated"))
      try {
        assert(mgr.status("rs") == "running")
        // one micro-batch per event: the stop lands between batches
        part.foreach { e =>
          mem.addData(e)
          spark.streams.active.filter(_.name == "rs_gated")
            .foreach(_.processAllAvailable())
        }
      } finally mgr.stop("rs")
    }
    val (first, second) = evs.splitAt(6)
    run(first)
    val before = spark.table("rs_gated").count()
    run(second)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val want = rows(Pipeline.compile(dep, sources(evs.toDF()))("gated"))
    assert(before > 0 && before < want.size)
    assert(rows(spark.table("rs_gated")) == want)
    // the restarted run continued the batch ids: one batch per event
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "rs",
      "gated", "commits", (evs.size - 1).toString)))
  }

  test("a sink that fails to start stops the deployment's other sinks: " +
      "nothing runs untracked and a retry starts cleanly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def src(mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]) =
      mem.toDS().toDF("ts", "value", "seq")
        .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
          lit(false).as("paused"), col("seq"))
    val dep = Deployment("clash", Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("plus", CalculatorOp("a + 1", Seq("a")), Seq("a"), "out1"),
      TaskSpec("scale", CalculatorOp("a * 100", Seq("a")), Seq("a"), "out2")))
    // an unrelated live query already holds the second sink's name
    val blocker = src(org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)])
      .writeStream.format("memory").queryName("clash_out2").start()
    val mgr = new PipelineManager(spark)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    try {
      mgr.schedule(dep, Map("a" -> src(mem)), Seq("out1", "out2"))
      intercept[IllegalArgumentException](mgr.start("clash"))
      assert(!spark.streams.active.exists(_.name == "clash_out1"),
        "the sink that did start must be stopped")
      assert(mgr.status("clash") == "scheduled")
      blocker.stop()
      mgr.start("clash")
      assert(mgr.status("clash") == "running")
      mem.addData((10L, 1.0, 0L))
      spark.streams.active.filter(_.name.startsWith("clash_"))
        .foreach(_.processAllAvailable())
      assert(spark.table("clash_out2").select("value").as[Double]
        .collect().toSeq == Seq(100.0))
    } finally { blocker.stop(); mgr.stop("clash") }
  }

  test("DeploymentJson round-trips spec -> JSON -> spec (fixpoint) and " +
      "matches the reference's task_host_id hash (task.py:153)") {
    import graft.plans.DeploymentJson
    // the hash the reference computes for GateTaskHost on node
    // 'graft-node' (verified against hashlib.sha256 directly)
    assert(DeploymentJson.taskHostId("GateTaskHost", "graft-node") ==
      "8da8fcf971271945")
    val dep = Deployment("rt", Seq(
      TaskSpec("clicks", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("views", SourceOp(IOMeta.number), Nil, "b"),
      TaskSpec("ctrl", SourceOp(IOMeta.number), Nil, "play"),
      TaskSpec("sync", SynchronizerOp(2), Seq("a", "b"), Seq("sa", "sb")),
      TaskSpec("calc", CalculatorOp("a * 2 + 1", Seq("a"),
        Map("a" -> 3.5)), Seq("sa"), "calcd"),
      TaskSpec("gate", GateOp(failOpen = true), Seq("calcd", "play"),
        "gated"),
      TaskSpec("rb", ReplayBufferOp(), Seq("sb", "play"), "replayed"),
      TaskSpec("latch", SrLatchOp, Seq("play", "gated"), "latched"),
      TaskSpec("tb", TimeBufferOp(250L), Seq("replayed"), "buffered"),
      TaskSpec("det", MessageDetectorOp(1500L), Seq("buffered"), "live"),
      TaskSpec("mic", SourceOp(IOMeta.audio), Nil, "pcm"),
      TaskSpec("vs", AudioVolumeScalerOp(0.5), Seq("pcm", "play"),
        "pcm_scaled"),
      TaskSpec("vm", AudioVolumeMeterOp(16000, 125), Seq("pcm_scaled"),
        "loud"),
      TaskSpec("out", NamedOutputOp("main", IOMeta.number), Seq("gated"),
        Nil)))
    assert(Pipeline.validate(dep).isEmpty)
    val json = DeploymentJson.write(dep)
    val loaded = DeploymentJson.load(json)
    // JSON fixpoint: reload + rewrite reproduces the bytes exactly
    assert(DeploymentJson.write(loaded.deployment) == json)
    // structure survives: same task names/ops, streams renamed tN
    val ops = loaded.deployment.tasks.map(t => t.name -> t.op).toMap
    assert(ops("gate") == GateOp(failOpen = true))
    assert(ops("calc") == CalculatorOp("a * 2 + 1", Seq("a"), Map("a" -> 3.5)))
    assert(ops("sync") == SynchronizerOp(2))
    assert(ops("rb") == ReplayBufferOp())
    assert(ops("det") == MessageDetectorOp(1500L))
    assert(ops("vs") == AudioVolumeScalerOp(0.5))
    assert(ops("vm") == AudioVolumeMeterOp(16000, 125))
    assert(Pipeline.validate(loaded.deployment).isEmpty)
    assert(loaded.namedInputs.keySet == Set("clicks", "views", "ctrl", "mic"))
    assert(loaded.namedOutputs.keySet == Set("main"))
  }

  test("DeploymentJson.load rejects unknown hosts, loop replay and " +
      "initial_control=true with named errors") {
    import graft.plans.DeploymentJson
    def task(host: String, cfg: String) =
      s"""[{"id": "x", "deployment_id": "y", "task_host_id": "$host",
         |  "label": "t", "config": $cfg, "frontend_config": {},
         |  "inputs": [], "outputs": []}]""".stripMargin
    val unknown = intercept[RuntimeException] {
      DeploymentJson.load(task("deadbeef00000000", "{}"))
    }
    assert(unknown.getMessage.contains("unknown task_host_id"))
    val loop = intercept[Exception] {
      DeploymentJson.load(task("replaybuffer",
        """{"loop": true, "in_topic": 1, "play_topic": 2, "out_topic": 3}"""))
    }
    assert(loop.getMessage.contains("loop"))
    val ic = intercept[Exception] {
      DeploymentJson.load(task("gate",
        """{"initial_control": true, "in_topic": 1, "control_topic": 2,
           "out_topic": 3}"""))
    }
    assert(ic.getMessage.contains("initial_control"))
  }

  test("DeploymentJson.load rejects duplicate published names instead " +
      "of silently last-winning: two namedinputs sharing a name, two " +
      "inputcontainers sharing a source") {
    import graft.plans.DeploymentJson
    def t(id: Int, host: String, label: String, cfg: String) =
      s"""{"id": "$id", "deployment_id": "y", "task_host_id": "$host",
         |  "label": "$label", "config": $cfg, "frontend_config": {},
         |  "inputs": [], "outputs": []}""".stripMargin
    val dupIn = intercept[IllegalArgumentException] {
      DeploymentJson.load(s"""[
        ${t(1, "namedinput", "a", """{"name": "feed", "out_topic": 1}""")},
        ${t(2, "namedinput", "b", """{"name": "feed", "out_topic": 2}""")}]""")
    }
    assert(dupIn.getMessage.contains("feed") &&
      dupIn.getMessage.contains("already published"))
    val icCfg = """{"source": "cam.wav", "real_time": false,
      "video_tracks": [], "audio_tracks": [{"sample_format": "s16",
      "codec": "raw", "channels": 1, "rate": 1000, "out_topic": %d}]}"""
    val dupSrc = intercept[IllegalArgumentException] {
      DeploymentJson.load(s"""[
        ${t(1, "inputcontainer", "c1", icCfg.format(1))},
        ${t(2, "inputcontainer", "c2", icCfg.format(2))}]""")
    }
    assert(dupSrc.getMessage.contains("cam.wav#audio0") &&
      dupSrc.getMessage.contains("already published"))
  }

  test("SynchronizerOp routes each topic to its OWN output with text " +
      "payloads restored (nulls and '|'-containing strings included)") {
    import spark.implicits._
    def tenv(rows: Seq[(Long, String, Long)]): DataFrame =
      rows.map { case (ts, tx, sq) => (ts, 0.0, tx, false, sq) }
        .toDF("ts", "value", "text", "paused", "seq")
    // topic a arrives [10, 30, 20]: 20 is late (reg(a)=30) and drops;
    // topic b arrives in order, 15 carries a '|' payload, 25 a null
    val a = tenv(Seq((10L, "x", 1L), (30L, "y|z", 3L), (20L, "late", 4L)))
    val b = tenv(Seq((15L, "p|q|r", 2L), (25L, null, 5L)))
    val dep = Deployment("so", Seq(
      TaskSpec("sa", SourceOp(IOMeta.text), Nil, "a"),
      TaskSpec("sb", SourceOp(IOMeta.text), Nil, "b"),
      TaskSpec("sync", SynchronizerOp(2), Seq("a", "b"), Seq("oa", "ob"))))
    val outs = Pipeline.compile(dep, Map("a" -> a, "b" -> b))
    def got(s: String) = outs(s).filter(!col("paused"))
      .select("ts", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got("oa") == Seq((10L, "x"), (30L, "y|z")))
    assert(got("ob") == Seq((15L, "p|q|r"), (25L, null)))
  }

  test("ReplayBufferOp: edge replays restamped to the edge; unpause " +
      "clears AND stops play so a refilling buffer replays again " +
      "mid-episode, anchored at the trigger; repeated plays replay " +
      "the same buffer (replaybuffer.py:28-90)") {
    import spark.implicits._
    def envP(rows: Seq[(Long, Double, Boolean, Long)]): DataFrame =
      rows.map { case (ts, v, p, sq) => (ts, v, null: String, p, sq) }
        .toDF("ts", "value", "text", "paused", "seq")
    // record 1.0@10, 2.0@20; play edge @25 (offset 15): replays
    // 1.0@25, 2.0@35; control drops @30, rises again @40: replays the
    // SAME buffer at offset 30 (1.0@40, 2.0@50). Then a pause+unpause
    // pair @45 clears AND stops play (stop_play, :44-46) while the
    // episode stays live — so data 3.0@60 STARTS a replay on arrival
    // (update_playing_state on append, :48,79), anchored at the
    // trigger itself (sync.time's event-time projection) → 3.0@60.
    // Drop @65, edge @70 replays the buffer again: 3.0@70.
    val data = envP(Seq((10L, 1.0, false, 1L), (20L, 2.0, false, 2L),
      (45L, 1.0, true, 6L), (46L, 0.0, true, 7L), (60L, 3.0, false, 8L)))
    val play = envP(Seq((25L, 1.0, false, 3L), (30L, 0.0, false, 4L),
      (40L, 1.0, false, 5L), (65L, 0.0, false, 9L), (70L, 1.0, false, 10L)))
    val dep = Deployment("rb", Seq(
      TaskSpec("sd", SourceOp(IOMeta.number), Nil, "d"),
      TaskSpec("sp", SourceOp(IOMeta.number), Nil, "p"),
      TaskSpec("rb", ReplayBufferOp(), Seq("d", "p"), "replayed")))
    val out = Pipeline.compile(dep, Map("d" -> data, "p" -> play))("replayed")
      .filter(!col("paused")).select("ts", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(x => (x._1, x._2)).toSeq
    assert(out == Seq((25L, 1.0), (35L, 2.0), (40L, 1.0), (50L, 2.0),
      (60L, 3.0), (70L, 3.0)))
  }

  test("llamacppchat kind: src_model path binds the learned bigram " +
      "kernel through the JSON loader; fixpoint round-trip holds") {
    import graft.plans.DeploymentJson
    import spark.implicits._
    val modelDir = java.nio.file.Files.createTempDirectory("graft_chatjson_")
    java.nio.file.Files.writeString(modelDir.resolve("part-00000"),
      "ping\tpong\npong\tdone\n")
    try {
      val dep = Deployment("chatdep", Seq(
        TaskSpec("src", SourceOp(IOMeta.text), Nil, "in"),
        TaskSpec("chat", ChatOp(Some("be brief"), 128,
          graft.functions.BigramLm(modelDir.toString, 2)), Seq("in"),
          "replies"),
        TaskSpec("out", NamedOutputOp("replies", IOMeta.text),
          Seq("replies"), Nil)))
      val json = DeploymentJson.write(dep)
      assert(json.contains("llamacppchat") &&
        json.contains("src_model") && json.contains("be brief"))
      val loaded = DeploymentJson.load(json)
      assert(DeploymentJson.write(loaded.deployment) == json) // fixpoint
      // the LOADED deployment runs end-to-end with the model from disk
      val in = Seq((10L, Double.NaN, "say ping", 0L))
        .toDF("ts", "value", "text", "seq")
        .select(col("ts"), col("value"), col("text"),
          lit(false).as("paused"), col("seq"))
      val streams = Pipeline.compile(loaded.deployment,
        Map(loaded.namedInputs("src") -> in))
      val got = streams(loaded.namedOutputs("replies"))
        .filter(!col("paused")).select("ts", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((10L, "pong done")))
      // arbitrary closures have no stored shape — rejected loudly
      val closureDep = Deployment("c", Seq(
        TaskSpec("s", SourceOp(IOMeta.text), Nil, "a"),
        TaskSpec("c", ChatOp(None, 8, _ => "x"), Seq("a"), "o")))
      val err = intercept[RuntimeException] {
        DeploymentJson.write(closureDep)
      }
      assert(err.getMessage.contains("no stored-task JSON shape"))
    } finally {
      java.nio.file.Files.list(modelDir).forEach(p =>
        java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(modelDir)
    }
  }

  test("lifecycle: start/status/stop a streaming deployment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Long)]
    val src = mem.toDS().toDF("ts", "value", "seq")
      .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"))
    val dep = Deployment("live", Seq(
      TaskSpec("src", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("calc", CalculatorOp("a * 10", Seq("a")), Seq("a"), "out")))
    val mgr = new PipelineManager(spark)
    assert(mgr.status("live") == "stopped")
    mgr.start(dep, Map("a" -> src), Seq("out"))
    assert(mgr.status("live") == "running")
    mem.addData((10L, 1.5, 0L), (20L, 2.5, 1L))
    spark.streams.active.foreach(_.processAllAvailable())
    val got = spark.table("live_out").select("value").as[Double].collect().sorted.toSeq
    assert(got == Seq(15.0, 25.0))
    mgr.stop("live")
    assert(mgr.status("live") == "stopped")
  }
}

/** One event of a multi-pipeline deployment: topic 0 is data, 1 the
  * gate's control. */
final case class PipedEv(pipe: String, topic: Int, ts: Long, value: Double,
    seq: Long)
