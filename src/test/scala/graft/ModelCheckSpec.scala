package graft

import graft.streaming.StateMachines._
import graft.streaming.StatefulRunner
import graft.streaming.StatefulRunner.KEv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Model-based randomized tests in the style of the reference's
  * Simulator (/root/reference/tests/sim.py, tests/tasks/test_gate.py):
  * generated event streams are run through TWO independent
  * implementations — the pure state machine (via Spark flatMapGroups)
  * and the window-function batch analogue — and must agree exactly.
  * The generators cover equal-timestamp collisions (where the priority
  * tie-breaks matter) by drawing timestamps from a small grid.
  */
class ModelCheckSpec extends AnyFunSuite with SparkFixture {

  /** Run a ScalaCheck property (50 cases) and fail the suite on any
    * counterexample. */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(50).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  /** Events on a coarse ts grid (forces ties) with values around the
    * 0.5 threshold. */
  private val genEvents: Gen[List[(Int, Long, Double)]] =
    Gen.listOfN(60, for {
      topic <- Gen.oneOf(0, 1)
      ts <- Gen.choose(0L, 14L).map(_ * 10)
      v <- Gen.oneOf(0.0, 0.3, 0.6, 1.0)
    } yield (topic, ts, v))

  private def toKEv(es: List[(Int, Long, Double)]): List[KEv] =
    es.zipWithIndex.map { case ((t, ts, v), i) =>
      KEv("k", t, ts, v, null, false, i.toLong) }

  private def machineOut[S](m: Machine[S], es: List[(Int, Long, Double)]): Seq[(Long, Double)] = {
    import spark.implicits._
    StatefulRunner.runBatch(m, spark.createDataset(toKEv(es)))
      .collect().filter(!_.paused) // data rows; pause markers are
      .map(o => (o.ts, o.value)).sorted.toSeq // ContainerSpec/StreamingSpec territory
  }

  private def envDF(es: List[(Int, Long, Double)]): DataFrame = {
    import spark.implicits._
    es.zipWithIndex.map { case ((t, ts, v), i) => (t, ts, v, i.toLong) }
      .toDF("topic", "ts_ms", "value", "seq")
  }

  test("gate: machine == window analogue on random streams (sim.py pattern)") {
    check(Prop.forAll(genEvents) { es =>
      val df = envDF(es)
      val w = Window.orderBy(col("ts_ms"), col("is_ctrl").desc, col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val analogue = df
        .withColumn("is_ctrl", when(col("topic") === 1, 1).otherwise(0))
        .withColumn("sig", when(col("topic") === 1, col("value")))
        .withColumn("g", last(col("sig"), ignoreNulls = true).over(w))
        .filter(col("is_ctrl") === 0 && col("g") > 0.5)
        .select(col("ts_ms"), col("value")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      machineOut(new Gate(failOpen = false), es) == analogue
    })
  }

  test("sr latch: machine == window analogue on random streams " +
      "(LEVEL-based, srlatch.py:33-55)") {
    check(Prop.forAll(genEvents) { es =>
      val df = envDF(es)
      // the machine's default tie-break at equal ts is topic order
      // (Machine.priority = topic), so the analogue sorts the same way
      val w = Window.orderBy(col("ts_ms"), col("topic"), col("seq"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val analogue = df
        .withColumn("sLvl", when(col("topic") === 0, col("value") > 0.5))
        .withColumn("rLvl", when(col("topic") === 1, col("value") > 0.5))
        .withColumn("s", coalesce(last(col("sLvl"), ignoreNulls = true).over(w), lit(false)))
        .withColumn("r", coalesce(last(col("rLvl"), ignoreNulls = true).over(w), lit(false)))
        // latch follows the set level while levels disagree, holds while
        // they agree (srlatch.py:52-54)
        .withColumn("decided", when(col("s") =!= col("r"),
          when(col("s"), 1.0).otherwise(0.0)))
        .withColumn("state",
          coalesce(last(col("decided"), ignoreNulls = true).over(w), lit(0.0)))
        .select(col("ts_ms"), col("state")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      machineOut(new SrLatch, es) == analogue
    })
  }

  test("rolling context (t09 formulation): RANGE-frame windows == the " +
      "sequential evict-oldest fold (llamacppchat.py:49-77)") {
    import spark.implicits._
    val L = 137L // a budget NOT aligned with the token grid
    val gen = Gen.listOfN(60, Gen.choose(1L, 120L))
    check(Prop.forAll(gen) { toks =>
      toks.isEmpty || {
        // sequential model: append, evict oldest while over budget
        val model = toks.scanLeft(Vector.empty[Long]) { (q0, t) =>
          var q = q0 :+ t
          while (q.sum > L) q = q.tail
          q
        }.tail.map(q => (q.length.toLong, q.sum))
        // t09's window formulation on the same stream
        val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("k", "tok")
          .withColumn("s", sum(col("tok")).over(Window.orderBy(col("k"))))
        val wS = Window.orderBy(col("s"))
        val wLt = wS.rangeBetween(Window.unboundedPreceding, -(L + 1))
        val wIn = wS.rangeBetween(-L, Window.currentRow)
        val got = df
          .withColumn("ctx_msgs",
            col("k") + 1 - count(lit(1)).over(wLt) -
              when(col("s") >= L + 1, 1L).otherwise(0L))
          .withColumn("ctx_tok",
            when(col("s") <= L, col("s"))
              .otherwise(col("s") - min(col("s")).over(wIn)))
          .orderBy(col("k")).select(col("ctx_msgs"), col("ctx_tok"))
          .as[(Long, Long)].collect().toSeq
        got == model
      }
    })
  }

  test("sequence packing (t10 formulation): chunks conserve tokens, " +
      "every non-final chunk is exactly full") {
    import spark.implicits._
    val seqLen = 64L
    val gen = Gen.listOfN(40, Gen.choose(1L, 200L))
    check(Prop.forAll(gen) { toks =>
      toks.isEmpty || {
        val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "tok")
          .withColumn("end", sum(col("tok")).over(Window.orderBy(col("doc_id"))))
          .withColumn("start", col("end") - col("tok"))
          .select(col("doc_id"), col("start"), col("end"),
            explode(sequence(expr(s"start div $seqLen"),
              expr(s"(`end` - 1) div $seqLen"))).as("chunk"))
          .groupBy(col("chunk"))
          .agg(sum(least(col("end"), (col("chunk") + 1) * seqLen) -
            greatest(col("start"), col("chunk") * seqLen)).as("fill"),
            count(lit(1)).as("n_docs"))
        val rows = df.orderBy(col("chunk"))
          .select(col("chunk"), col("fill"), col("n_docs"))
          .as[(Long, Long, Long)].collect().toSeq
        val total = toks.sum
        val lastChunk = (total - 1) / seqLen
        // chunk ids are contiguous from 0; fills conserve tokens; every
        // chunk but the last is exactly full; every chunk has a doc
        rows.map(_._1) == (0L to lastChunk) &&
          rows.map(_._2).sum == total &&
          rows.dropRight(1).forall(_._2 == seqLen) &&
          rows.last._2 == total - lastChunk * seqLen &&
          rows.forall(_._3 >= 1)
      }
    })
  }

  test("time buffer: machine output is input shifted by the release rule") {
    val gen = Gen.listOfN(40, Gen.choose(0L, 500L)).map(ts =>
      ts.sorted.zipWithIndex.map { case (t, i) => (0, t, i.toDouble) }.toList)
    check(Prop.forAll(gen) { es =>
      val out = machineOut(new TimeBuffer(100), es)
      val maxTs = if (es.isEmpty) 0L else es.map(_._2).max
      val expected = es.filter(e => maxTs - e._2 >= 100)
        .map(e => (e._2, e._3)).sorted
      out == expected
    })
  }
}
