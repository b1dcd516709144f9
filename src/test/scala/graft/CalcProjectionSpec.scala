package graft

import graft.plans.Pipeline
import graft.plans.Pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A one-variable calculator compiles to a projection; every row it
  * emits, `seq` included, must be the row the calculator machine
  * emits. The oracle is the same deployment whose calculator reads a
  * second, always-empty variable (`a * 2 + 1 + 0 * b`): two variables
  * keep real state, so that form still runs the machine. */
class CalcProjectionSpec extends AnyFunSuite with SparkFixture {

  /** calc -> gate under one deployment and task naming; `twin` swaps
    * in the two-variable machine form of the same formula. */
  private def dep(twin: Boolean): Deployment = Deployment("cp", Seq(
    TaskSpec("src_a", SourceOp(IOMeta.number), Nil, "a"),
    TaskSpec("src_b", SourceOp(IOMeta.number), Nil, "b"),
    TaskSpec("src_ctrl", SourceOp(IOMeta.number), Nil, "ctrl"),
    if (twin) TaskSpec("calc",
      CalculatorOp("a * 2 + 1 + 0 * b", Seq("a", "b")), Seq("a", "b"), "calc")
    else TaskSpec("calc", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"), "calc"),
    TaskSpec("gate", GateOp(), Seq("calc", "ctrl"), "gated")))

  /** Two pipes; data (topic 0) with pause markers, NaNs, negative,
    * huge and same-ts values; controls (topic 1) open and close each
    * pipe's gate at different times. Three micro-batches. */
  private val batches: Seq[Seq[CalcEv]] = {
    val evs = Seq(
      ("p0", 0, 10L, 1.0, false), ("p1", 0, 10L, 1.0, false),
      ("p0", 1, 15L, 1.0, false), ("p0", 0, 20L, Double.NaN, false),
      ("p1", 0, 20L, 2.0, true), ("p0", 0, 25L, -3.5, false),
      ("p0", 0, 25L, 4.25, false), ("p1", 1, 26L, 1.0, false),
      ("p1", 0, 30L, 1e300, false), ("p0", 0, 30L, 0.0, true),
      ("p0", 1, 35L, 0.0, false), ("p1", 0, 40L, -0.5, false),
      ("p0", 0, 40L, 7.0, false), ("p1", 0, 45L, Double.NaN, false),
      ("p1", 0, 50L, 9.0, false))
    val rows = evs.zipWithIndex.map { case ((p, t, ts, v, paused), i) =>
      CalcEv(p, t, ts, v, paused, i.toLong) }
    Seq(rows.take(5), rows.slice(5, 10), rows.drop(10))
  }

  private def sources(evs: DataFrame, piped: Boolean): Map[String, DataFrame] = {
    def topic(t: Int) = evs.filter(col("topic") === t).select(
      (if (piped) Seq(col("pipe")) else Nil) ++ Seq(col("ts"), col("value"),
        lit(null).cast("string").as("text"), col("paused"), col("seq")): _*)
    Map("a" -> topic(0), "b" -> topic(2), "ctrl" -> topic(1))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  for (piped <- Seq(false, true)) {
    val label = if (piped) "piped" else "unpiped"

    test(s"batch, $label: the projection's calc and gated rows equal the " +
        "machine's, seq included") {
      import spark.implicits._
      val evs = batches.flatten.toDF()
      def run(twin: Boolean) = Pipeline.compile(dep(twin), sources(evs, piped))
      val (one, two) = (run(twin = false), run(twin = true))
      for (s <- Seq("calc", "gated")) {
        assert(one(s).columns.toSeq == two(s).columns.toSeq)
        assert(rows(one(s)) == rows(two(s)), s)
      }
      // the paused and NaN data rows emitted nothing
      assert(one("calc").count() == 8)
    }

    test(s"streaming, $label: the projection's calc and gated sinks equal " +
        "the machine's over three micro-batches, seq included") {
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def run(twin: Boolean, out: String): Seq[String] = {
        val mem = MemoryStream[CalcEv]
        val name = s"cp_${label}_${out}_${if (twin) "machine" else "proj"}"
        val q = Pipeline.compile(dep(twin), sources(mem.toDF(), piped))(out)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          batches.foreach { b => mem.addData(b); q.processAllAvailable() }
        } finally q.stop()
        rows(spark.table(name))
      }
      for (out <- Seq("calc", "gated")) {
        val one = run(twin = false, out)
        assert(one.nonEmpty)
        assert(one == run(twin = true, out), out)
      }
    }
  }

  test("paused rows and NaN values emit nothing") {
    import spark.implicits._
    val evs = Seq(CalcEv("p0", 0, 10L, 1.0, true, 0L),
      CalcEv("p0", 0, 20L, Double.NaN, false, 1L),
      CalcEv("p0", 0, 30L, Double.NaN, true, 2L)).toDF()
    for (twin <- Seq(false, true))
      assert(Pipeline.compile(dep(twin), sources(evs, piped = false))("calc")
        .count() == 0)
  }

  test("a NULL value fails the query, as the machine's decode does") {
    import spark.implicits._
    val a = Seq((10L, Option(1.0), 0L), (20L, Option.empty[Double], 1L))
      .toDF("ts", "value", "seq")
      .select(col("ts"), col("value"), lit(null).cast("string").as("text"),
        lit(false).as("paused"), col("seq"))
    val empty = a.limit(0)
    for (twin <- Seq(false, true)) {
      val out = Pipeline.compile(dep(twin),
        Map("a" -> a, "b" -> empty, "ctrl" -> empty))("calc")
      val err = intercept[Exception](out.collect())
      if (!twin) assert(chain(err).contains("must be non-null"), chain(err))
    }
  }

  test("a NULL or '#' pipe fails with the machine's message") {
    import spark.implicits._
    for ((pipe, shown) <- Seq((null, "NULL"), ("p#1", "p#1"));
         twin <- Seq(false, true)) {
      val evs = Seq(CalcEv("p0", 0, 10L, 1.0, false, 0L),
        CalcEv(pipe, 0, 20L, 2.0, false, 1L)).toDF()
      val out = Pipeline.compile(dep(twin), sources(evs, piped = true))("calc")
      val err = intercept[Exception](out.collect())
      assert(chain(err).contains("task 'cp/calc': pipe value must be " +
        s"non-null and '#'-free, got '$shown'"), chain(err))
    }
  }
}

final case class CalcEv(pipe: String, topic: Int, ts: Long, value: Double,
    paused: Boolean, seq: Long)
