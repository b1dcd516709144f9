package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [prefixes] — optional comma-separated name
    // prefixes restrict to matching queries (local iteration; the
    // driver always passes 2).
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Seq.empty[String])
      case Array(a, b, c) => (a, b, c.split(",").toSeq)
    }
    // embeddable like RunDeployment: reuse a live session (tests) and
    // leave its lifecycle to the owner; close only a session we created
    val preExisting = SparkSession.getDefaultSession.isDefined
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // run queries concurrently (Spark schedules concurrent actions
    // fine); each result is small, so the coalesce(1) writes are cheap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // A failed query must be LOUD, not a silent absence: round 7 lost 66
    // correctness rows because per-query exceptions were only stderr
    // noise. Failures are collected, marked on disk, and summarized in
    // one machine-readable stdout line.
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.startsWith) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        // Scopes are thread-local, so each concurrent query releases
        // only its own materialized intermediates when its write ends.
        try graft.Resources.withScope {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // inspectable marker where the result parquet should have been.
          // The directory is cleared FIRST: a query that dies before its
          // overwrite write starts (analysis error) in a reused outDir
          // would otherwise leave a prior run's parquet readable next to
          // the marker, and a consumer globbing parquet without checking
          // _FAILED would score stale results as current.
          val d = Paths.get(outDir, name)
          org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile)
          Files.createDirectories(d)
          Files.writeString(d.resolve("_FAILED"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val failedNames = {
      import scala.jdk.CollectionConverters._
      failed.asScala.toSeq.sorted
    }
    val ran = SparkEntry.queries.keys.toSeq
      .count(n => only.isEmpty || only.exists(n.startsWith))
    val statusLine = failedNames
      .map("\"" + _ + "\"").mkString(
        s"""{"verify_ok":${ran - failedNames.size},"verify_failed":[""",
        ",", "]}")
    println(statusLine)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      statusLine + "\n")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.exists(k.startsWith) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (!preExisting) GraftSession.close(spark)
  }
}
