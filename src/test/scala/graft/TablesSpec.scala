package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` infers a table's schema once per file state (leaf files
  * with their lengths and modification times, plus the parquet-read
  * confs) and reads with it afterwards. A warm load must launch no
  * Spark job and must read exactly what a cold `spark.read.parquet`
  * reads; a session with other parquet confs must never be served a
  * schema inferred under the default ones. (A rewritten table is
  * IngestionSpec's case.)
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("tables-spec")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** Group of every job start the listener has seen, in posting order. */
  private lazy val jobGroups = {
    val q = new ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        q.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    })
    q
  }

  /** Spark jobs launched by `body`. Listener delivery is asynchronous
    * but ordered, so once a sentinel job submitted after `body` has been
    * seen, every job of `body` has been seen too. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val groups = jobGroups
    val id = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setJobGroup(id, "probe")
    val r = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$id-end", "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!groups.contains(s"$id-end") && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(groups.contains(s"$id-end"), "sentinel job never reached the listener")
    var n = 0
    groups.forEach(g => if (g == id) n += 1)
    (r, n)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a warm load of every table runs no job and reads what a cold " +
      "read reads") {
    for (name <- Tables.all) {
      Tables.load(spark, sf, name)
      val (warm, jobs) = jobsDuring(Tables.load(spark, sf, name))
      assert(jobs == 0, s"$name: warm load ran $jobs Spark jobs")
      val cold = spark.read.parquet(s"$sf/$name.parquet")
      assert(warm.schema == cold.schema, s"$name: schema differs")
      assert(rows(warm) == rows(cold), s"$name: rows differ")
    }
  }

  test("the first load of a new file state infers, later loads do not") {
    val dir = Files.createTempDirectory("tables-copy")
    Files.copy(Paths.get(s"$sf/nation.parquet"), dir.resolve("nation.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val (_, cold) = jobsDuring(Tables.load(spark, dir.toString, "nation"))
    assert(cold >= 1, "a cold load must infer the schema (one job)")
    val (_, warm) = jobsDuring(Tables.load(spark, dir.toString, "nation"))
    assert(warm == 0)
  }

  test("a session with other parquet-read confs gets its own schema") {
    def dateType(s: SparkSession): String =
      Tables.load(s, sf, "orders").schema("o_orderdate").dataType.simpleString
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(dateType(spark) == "timestamp_ntz")
    assert(dateType(ltz) == "timestamp")
    assert(dateType(spark) == "timestamp_ntz")
  }

  test("staging width is sized from the listed bytes") {
    assume(!sys.env.contains("SPARK_GRAFT_SPREAD"), "width overridden")
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val sc = spark.sparkContext
    for ((name, perPartition, df) <- Seq(
        ("documents", 32L << 10, Tables.documents(spark, sf)),
        ("embeddings", 128L << 10, Tables.embeddings(spark, sf)))) {
      val p = new org.apache.hadoop.fs.Path(s"$sf/$name.parquet")
      val bytes = p.getFileSystem(sc.hadoopConfiguration)
        .getContentSummary(p).getLength
      val want = math.max(1L, math.min(sc.defaultParallelism.toLong,
        bytes / perPartition)).toInt
      val got = df.queryExecution.analyzed.collectFirst {
        case r: Repartition => r.numPartitions }
      assert(got.contains(want), name)
    }
  }
}
