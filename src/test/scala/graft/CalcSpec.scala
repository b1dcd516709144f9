package graft

import graft.functions.Calc
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Grammar/eval unit tests mirroring
  * /root/reference/tests/tasks/test_calculator.py:8-15 — every operator
  * and function of calculator.py's language evaluated through a real
  * Spark plan and compared against the reference semantics computed
  * with java.lang.Math.
  */
class CalcSpec extends AnyFunSuite with SparkFixture {

  /** Evaluate a formula with the given variable bindings via a real
    * one-row DataFrame — the compiled Column runs through Catalyst. */
  private def eval(formula: String, vars: (String, Double)*): Double = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(vars.map(v =>
      org.apache.spark.sql.types.StructField(v._1, org.apache.spark.sql.types.DoubleType)))
    val row = org.apache.spark.sql.Row(vars.map(_._2): _*)
    val df = spark.createDataFrame(List(row).asJava, schema)
    val c = Calc.column(formula, vars.map(v => v._1 -> col(v._1)).toMap)
    df.select(c.cast("double").as("r")).head().getDouble(0)
  }

  test("arithmetic and precedence") {
    assert(eval("1 + 2 * 3") == 7.0)
    assert(eval("(1 + 2) * 3") == 9.0)
    assert(eval("2 ** 3 ** 2") == 64.0) // left-assoc per reference grammar
    assert(eval("10 / 4") == 2.5)
    assert(eval("-3 + 1") == -2.0)
    assert(eval("+5") == 5.0)
    assert(eval("2 * -3") == -6.0)
  }

  test("python modulo: sign of divisor") {
    assert(eval("-7 % 3") == 2.0)  // python: -7 % 3 == 2
    assert(eval("7 % 3") == 1.0)
    assert(eval("7.5 % 2") == 1.5)
  }

  test("comparisons produce 1.0/0.0") {
    assert(eval("3 > 2") == 1.0)
    assert(eval("2 > 3") == 0.0)
    assert(eval("2 >= 2") == 1.0)
    assert(eval("2 <= 1") == 0.0)
    assert(eval("2 == 2") == 1.0)
    assert(eval("2 != 2") == 0.0)
  }

  test("boolean ops threshold at 0.5 (calculator.py:103-116)") {
    assert(eval("1 & 1") == 1.0)
    assert(eval("1 & 0.4") == 0.0)  // 0.4 is falsy
    assert(eval("0.6 | 0") == 1.0)
    assert(eval("1 ^ 1") == 0.0)
    assert(eval("1 ^ 0") == 1.0)
    assert(eval("!0.4") == 1.0)
    assert(eval("!0.6") == 0.0)
  }

  test("ternary selects on > 0.5") {
    assert(eval("1 ? 10 : 20") == 10.0)
    assert(eval("0.3 ? 10 : 20") == 20.0)
    assert(eval("a > b ? a : b", "a" -> 3, "b" -> 9) == 9.0)
  }

  test("constants") {
    assert(eval("pi") == math.Pi)
    assert(eval("e") == math.E)
  }

  test("functions match java.lang.Math") {
    assert(eval("sin(1)") == math.sin(1))
    assert(eval("cos(0.5)") == math.cos(0.5))
    assert(eval("tan(0.3)") == math.tan(0.3))
    assert(eval("asin(0.5)") == math.asin(0.5))
    assert(eval("acos(0.5)") == math.acos(0.5))
    assert(eval("atan(2)") == math.atan(2))
    assert(eval("atan2(1, 2)") == math.atan2(1, 2))
    assert(eval("sinh(1)") == math.sinh(1))
    assert(eval("cosh(1)") == math.cosh(1))
    assert(eval("tanh(1)") == math.tanh(1))
    assert(eval("log(2)") == math.log(2))
    assert(eval("log10(100)") == 2.0)
    assert(eval("log2(8)") == 3.0)
    assert(eval("exp(2)") == math.exp(2))
    assert(eval("sqrt(2)") == math.sqrt(2))
    assert(eval("floor(2.7)") == 2.0)
    assert(eval("ceil(2.2)") == 3.0)
    assert(eval("abs(-4)") == 4.0)
    assert(eval("min(3, 1, 2)") == 1.0)
    assert(eval("max(3, 1, 2)") == 3.0)
  }

  test("round is banker's rounding (python round)") {
    assert(eval("round(0.5)") == 0.0)  // python round(0.5) == 0
    assert(eval("round(1.5)") == 2.0)
    assert(eval("round(2.5)") == 2.0)
    assert(eval("round(2.6)") == 3.0)
  }

  test("asinh/acosh/atanh") {
    assert(eval("asinh(1)") === math.log(1 + math.sqrt(2)) +- 1e-15)
    assert(eval("acosh(2)") === math.log(2 + math.sqrt(3)) +- 1e-15)
    assert(eval("atanh(0.5)") === 0.5 * math.log(3) +- 1e-15)
  }

  private implicit class DoubleOps(x: Double) {
    def ===(y: ApproxEq): Boolean = math.abs(x - y.v) <= y.tol
  }
  private case class ApproxEq(v: Double, tol: Double)
  private implicit class Approx(v: Double) {
    def +-(tol: Double): ApproxEq = ApproxEq(v, tol)
  }

  test("validation rejects unknown variables (calculator.py:168-188)") {
    val ex = intercept[IllegalArgumentException](Calc.column("a + zz", Map("a" -> lit(1.0))))
    assert(ex.getMessage.contains("zz"))
  }

  test("validation rejects unknown functions") {
    val ex = intercept[IllegalArgumentException](Calc.column("foo(1)", Map.empty))
    assert(ex.getMessage.contains("foo"))
  }

  test("validation rejects reserved variable names") {
    val ex = intercept[IllegalArgumentException] {
      val ast = Calc.parse("pi + 1")
      Calc.validate(ast, Set("pi"))
    }
    assert(ex.getMessage.contains("pi"))
  }

  test("parse errors on malformed input") {
    intercept[IllegalArgumentException](Calc.parse("1 +"))
    intercept[IllegalArgumentException](Calc.parse("(1 + 2"))
    intercept[IllegalArgumentException](Calc.parse("1 ? 2"))
    intercept[IllegalArgumentException](Calc.parse("1 @ 2"))
    intercept[IllegalArgumentException](Calc.parse("1 2"))
  }

  test("scientific notation numbers") {
    assert(eval("1e3") == 1000.0)
    assert(eval("1.5e-2") == 0.015)
    assert(eval("2E2") == 200.0)
  }
}
