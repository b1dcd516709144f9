package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The relational family narrows lineitem money to Long-backed
  * DECIMAL(8,2) before summing (`Relational.decL`). A value past that
  * width must fail the query, never turn into a NULL or a wrong sum:
  * the engine runs Spark's default ANSI mode, where an out-of-range
  * cast raises NUMERIC_VALUE_OUT_OF_RANGE.
  */
class RelationalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("relational-spec")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** sf0.001's lineitem plus one row inside q01's shipdate filter whose
    * extended price is `price`, as a table directory. */
  private def lineitemWith(price: Double): String = {
    val dir = Files.createTempDirectory("lineitem-wide").toString
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
    val extra = l.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp_ntz"))
      .limit(1).withColumn("l_extendedprice", lit(price))
    assert(extra.count() == 1)
    l.union(extra).coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def q01(dir: String) =
    SparkEntry.queries("q01_pricing_summary")(spark, dir).collect()

  test("q01 fails on an extended price past DECIMAL(8,2)") {
    val err = intercept[Exception](q01(lineitemWith(1000000.00)))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
      msgs.mkString("\n"))
  }

  test("q01 sums the largest DECIMAL(8,2) price") {
    val sums = q01(lineitemWith(999999.99)).map(_.getAs[Double]("sum_base"))
    assert(sums.nonEmpty && sums.forall(s => !s.isNaN && s >= 999999.99))
  }
}
