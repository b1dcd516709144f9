package graft

import org.scalatest.funsuite.AnyFunSuite

/** Oracle-dtype contract gate (round-12 judge directive 2).
  *
  * The driver's correctness check hashes TYPED pandas values: two
  * frames with equal numbers but different dtype KINDS (int64 vs
  * float64) hash differently. That class cost two rounds on
  * g08_hyperball — DuckDB's SUM over BIGINT returns HUGEINT, which
  * lands in the comparison frame as float64 while Spark's parquet is
  * int64; `rows_match` stayed true, the hash stayed red, and nothing
  * in the suite pointed at the dtype.
  *
  * This spec closes the class permanently: it runs the REAL Verify
  * dump (every registered query) at sf0.001, then executes every
  * registered oracle SQL in DuckDB and asserts the pandas dtypes of
  * the two frames are identical column-by-column — exactly the two
  * frames the driver compares. Reverting the g08 CAST (or omitting a
  * cast on any future aggregate) fails here, named, in one local run.
  *
  * DuckDB lives in the driver's python3, not on our classpath, so the
  * compare shells out to scripts/dtype_gate.py — the same pattern as
  * scripts/check.py, which mimics the driver's value compare.
  */
class OracleDtypeSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def pythonHasDuckdb: Boolean =
    try new ProcessBuilder("python3", "-c", "import duckdb, pandas")
      .start().waitFor() == 0
    catch { case _: java.io.IOException => false }

  test("every oracle's DuckDB frame dtypes equal Spark's result dtypes") {
    assume(pythonHasDuckdb, "python3+duckdb (the driver's oracle " +
      "runtime) not available — gate runs driver-side only")
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists(), s"no $sf")
    val gate = new java.io.File("scripts/dtype_gate.py")
    assert(gate.exists(), s"missing ${gate.getAbsolutePath}")

    val out = tempDir("dtype_gate").toFile
    out.deleteOnExit()
    // The real driver dump: all registered queries → parquet, all
    // registered oracles → oracle_sql.json. A query failure writes a
    // _FAILED marker, which the gate script reports as bad.
    // on this suite's session, which Verify leaves running
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    Verify.main(Array(sf, out.getAbsolutePath))

    val pb = new ProcessBuilder(
      "python3", gate.getAbsolutePath, sf, out.getAbsolutePath)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val report = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    assert(rc == 0, s"oracle-dtype gate failed:\n$report")
    // Belt-and-braces: the summary line must account for every oracle.
    val total = SparkEntry.oracleSql.size
    assert(report.contains(s"$total dtype-ok, 0 bad"),
      s"gate summary does not cover all $total oracles:\n$report")
  }
}
