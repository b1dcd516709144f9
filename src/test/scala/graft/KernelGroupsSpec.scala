package graft

import java.util.concurrent.ConcurrentHashMap

import graft.operators.KernelGroups
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.AppendColumnsExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite

/** `KernelGroups.sortedKernel` hands each key's kernel its rows in
  * (ts_ms, event_id) order through one fixed-width Tungsten exchange;
  * `KernelGroups.countKernel` hands it only the number of rows with
  * that key: the same rows as the group form, `sortedKernel`, reading
  * only its group's size, but from a map-side-combined count, so its
  * exchange carries at most one record per key per map partition where
  * the group form carries every row. */
class KernelGroupsSpec extends AnyFunSuite with SparkFixture {
  import KernelGroupsSpec.{Row, kernel}

  /** Keys with 1, 2 and many rows over `mapParts` map partitions. */
  private val sizes = Seq(7L -> 1, 8L -> 2, 9L -> 600, 10L -> 97)
  private val mapParts = 3
  /** Every key's rows, shuffled out of order: timestamps repeat (three
    * rows per ms), so event_id breaks the ties; event ids are unique
    * and drawn in random order. */
  private val fixture: Seq[Row] = {
    val rnd = new scala.util.Random(8)
    val ids = rnd.shuffle((0L until sizes.map(_._2).sum).toVector)
    rnd.shuffle(sizes.flatMap { case (k, n) => (0 until n).map(i => (k, i)) }
      .zip(ids).map { case ((k, i), id) => (k, 1000L + i / 3, id, i) })
  }

  private def rows(rs: Seq[Row]): Dataset[Row] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rs, mapParts))
      .toDF("key", "ts_ms", "event_id", "v").as[Row]
  }
  private def keys(rs: Seq[Row]): Dataset[Long] = {
    import spark.implicits._
    rows(rs).map(_._1)
  }

  /** Each group's rows as the kernel saw them: (key, position, row). */
  private def arrival(ds: Dataset[Row]) = {
    import spark.implicits._
    KernelGroups.sortedKernel(ds, "key") { (k, it) =>
      it.zipWithIndex.map { case (r, i) => (k, i, r) }
    }
  }

  test("sortedKernel hands each group in (ts_ms, event_id) order: the " +
      "rows of collecting each group, then sorting it") {
    val expected = fixture.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      rs.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, i) =>
        (k, i, r) }
    }.sortBy(r => (r._1, r._2))
    assert(fixture.map(r => (r._2, r._3)) != fixture.map(r => (r._2, r._3))
      .sorted, "the fixture must arrive out of order")
    val got = arrival(rows(fixture)).collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == expected)
    assert(got.groupBy(_._1).map { case (k, g) => k -> g.length } ==
      sizes.toMap)
    assert(arrival(rows(Seq.empty)).collect().isEmpty)
  }

  test("sortedKernel plans one REPARTITION_BY_NUM exchange at " +
      "defaultParallelism, no AppendColumns, and AQE leaves it uncoalesced") {
    val ds = arrival(rows(fixture))
    ds.collect()
    val plan = ds.queryExecution.executedPlan
    val h = new AdaptiveSparkPlanHelper {}
    val shuffles = h.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.map(e => (e.shuffleOrigin, e.numPartitions)) ==
      Seq((REPARTITION_BY_NUM, spark.sparkContext.defaultParallelism)),
      plan.toString)
    assert(h.collect(plan) { case a: AppendColumnsExec => a }.isEmpty,
      plan.toString)
    assert(h.collect(plan) { case r: AQEShuffleReadExec => r }.isEmpty,
      plan.toString)
  }

  test("sortedKernel runs key k on partition k mod defaultParallelism") {
    import spark.implicits._
    val w = spark.sparkContext.defaultParallelism
    val placed = KernelGroups.sortedKernel(rows(fixture), "key") { (k, _) =>
      Iterator.single((k, org.apache.spark.TaskContext.getPartitionId()))
    }.collect().toMap
    assert(placed == sizes.map { case (k, _) => k -> (k % w).toInt }.toMap)
  }

  private def byCount(ds: Dataset[Long]) = {
    import spark.implicits._
    KernelGroups.countKernel(ds)(kernel)
  }
  private def byGroup(ds: Dataset[Row]) = {
    import spark.implicits._
    KernelGroups.sortedKernel(ds, "key")((k, it) => kernel(k, it.size))
  }

  test("countKernel returns the rows the group form returns reading only " +
      "its group's size") {
    val got = byCount(keys(fixture)).collect().sorted.toSeq
    assert(got == byGroup(rows(fixture)).collect().sorted.toSeq)
    assert(got == sizes.flatMap { case (k, n) => kernel(k, n) }.sorted)
    assert(byCount(keys(Seq.empty)).collect().isEmpty)
    assert(byGroup(rows(Seq.empty)).collect().isEmpty)
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
    val rowsOut = shuffleRecords(byGroup(rows(fixture)).collect())
    assert(counts > 0 && counts <= sizes.size * mapParts,
      s"count form wrote $counts shuffle records")
    assert(rowsOut == fixture.size,
      s"group form wrote $rowsOut shuffle records")
  }
}

object KernelGroupsSpec {

  /** (key, ts_ms, event_id, payload). */
  type Row = (Long, Long, Long, Int)

  /** A kernel whose output depends on its key and its count: up to 3
    * rows, each carrying the count. */
  def kernel(k: Long, n: Int): Iterator[(Long, Int, Int)] =
    (0 until math.min(n, 3)).iterator.map(i => (k, n, i))
}
