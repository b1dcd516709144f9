package graft

import graft.functions.LongDot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd LongDotProduct expression vs the composable
  * zip_with/aggregate formulation it replaces. */
class LongDotSpec extends AnyFunSuite with SparkFixture {

  override protected lazy val spark = {
    val s = newSession()
    LongDot.ensureRegistered(s)
    s
  }

  test("matches zip_with/aggregate on random arrays (codegen path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(100)((
      Seq.fill(64)(rnd.nextLong() % 2000),
      Seq.fill(64)(rnd.nextLong() % 2000)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      LongDot.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0L), _ + _).as("ref"))
    assert(got.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("interpreted eval path matches too") {
    val e = graft.functions.LongDotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1L, 2L, 3L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(4L, 5L, 6L),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
    assert(e.eval(null) == 32L)
  }

  test("null input yields null; shorter array truncates") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(10L, 10L))).toDF("a", "b")
    assert(df.select(LongDot.dot(col("a"), col("b"))).head().getLong(0) == 30L)
    val withNull = df.select(LongDot.dot(lit(null)
      .cast("array<bigint>"), col("b")))
    assert(withNull.head().isNullAt(0))
  }
}
