package graft

import java.util.concurrent.ConcurrentHashMap

import graft.operators.KernelGroups
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** `KernelGroups.countKernel` hands each key's kernel the number of rows
  * with that key: the same rows as the row-group form reading only its
  * group's size, but from a map-side-combined count, so its exchange
  * carries at most one record per key per map partition where the group
  * form carries every row. */
class KernelGroupsSpec extends AnyFunSuite with SparkFixture {
  import KernelGroupsSpec.kernel

  /** Keys with 1, 2 and many rows over `mapParts` map partitions. */
  private val sizes = Seq(7L -> 1, 8L -> 2, 9L -> 600, 10L -> 97)
  private val mapParts = 3
  private def keys(rows: Seq[Long]): Dataset[Long] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, mapParts))
  }
  private val fixture = new scala.util.Random(8).shuffle(
    sizes.flatMap { case (k, n) => Seq.fill(n)(k) })

  private def byCount(ds: Dataset[Long]) = {
    import spark.implicits._
    KernelGroups.countKernel(ds)(kernel)
  }
  private def byGroup(ds: Dataset[Long]) = {
    import spark.implicits._
    KernelGroups.flatMapKernel(ds)(identity[Long])((k, it) =>
      kernel(k, it.size))
  }

  test("countKernel returns the rows the group form returns reading only " +
      "its group's size") {
    val got = byCount(keys(fixture)).collect().sorted.toSeq
    assert(got == byGroup(keys(fixture)).collect().sorted.toSeq)
    assert(got == sizes.flatMap { case (k, n) => kernel(k, n) }.sorted)
    assert(byCount(keys(Seq.empty)).collect().isEmpty)
    assert(byGroup(keys(Seq.empty)).collect().isEmpty)
  }

  /** Stage ids of each job group, and shuffle records each stage wrote. */
  private val stagesOf = new ConcurrentHashMap[String, Seq[Int]]
  private val written = new ConcurrentHashMap[Int, Long]
  private lazy val listening = spark.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.jobGroup.id")).foreach(g =>
          stagesOf.merge(g, e.stageIds, _ ++ _))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    })

  /** Shuffle records written by the jobs `body` runs. Listener delivery
    * is asynchronous but ordered: once a sentinel job started after
    * `body` is seen, every stage of `body` has completed on the bus. */
  private def shuffleRecords(body: => Unit): Long = {
    listening
    val id = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setJobGroup(id, "probe")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$id-end", "sentinel")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!stagesOf.containsKey(s"$id-end") && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(stagesOf.containsKey(s"$id-end"),
      "sentinel job never reached the listener")
    stagesOf.get(id).map(st => written.getOrDefault(st, 0L)).sum
  }

  test("the count exchange carries partial counts, the group exchange " +
      "every row") {
    val counts = shuffleRecords(byCount(keys(fixture)).collect())
    val rows = shuffleRecords(byGroup(keys(fixture)).collect())
    assert(counts > 0 && counts <= sizes.size * mapParts,
      s"count form wrote $counts shuffle records")
    assert(rows == fixture.size, s"group form wrote $rows shuffle records")
  }
}

object KernelGroupsSpec {

  /** A kernel whose output depends on its key and its count: up to 3
    * rows, each carrying the count. */
  def kernel(k: Long, n: Int): Iterator[(Long, Int, Int)] =
    (0 until math.min(n, 3)).iterator.map(i => (k, n, i))
}
