package graft

import graft.queries.Relational
import org.scalatest.funsuite.AnyFunSuite

/** q31's salted skew join: the executed plan must actually spread the
  * hot key — the join shuffles on BOTH (k, salt), and no broadcast
  * join sneaks in (broadcasting the dim would make the salt dead
  * weight and hide the skew the pattern exists to solve). Correctness
  * (salting preserves the plain join's semantics) is the driver's
  * oracle hash; this spec pins the PLAN. */
class SaltedJoinSpec extends AnyFunSuite with SparkFixture {

  private def fixtureLineitem = {
    import spark.implicits._
    (1 to 200).map { i =>
      (i.toLong, (i % 13).toLong, 100.0 + i, i.toLong) }
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_linenumber")
  }

  test("the join exchanges hash-partition by BOTH k and salt, and no " +
      "broadcast join is planned") {
    val df = Relational.saltedSkewJoin(fixtureLineitem)
    df.collect() // force execution so the final plan (incl. AQE) exists
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), plan)
    // the JOIN inputs shuffle on (k, salt) — the post-join aggregate's
    // k-only exchange is expected and separate
    val exch = "hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val saltedExch = exch.filter(e => e.contains("k#") && e.contains("salt#"))
    assert(saltedExch.size >= 2, s"join exchanges: $exch\n$plan")
    // and the join condition itself carries the salt key
    val smj = plan.linesIterator.find(l => l.contains("SortMergeJoin") ||
      l.contains("ShuffledHashJoin")).get
    assert(smj.contains("salt#"), smj)
  }

  test("AQE runtime skew split fires for a partitioning-free consumer " +
      "and refuses when the join key's partitioning is required " +
      "downstream - the boundary where q31's salting takes over") {
    // The runtime complement to q31's design-time salting: adaptive
    // OptimizeSkewedJoin splits an oversized shuffle partition into
    // parallel sub-reads from the actual map output sizes — no query
    // rewrite, the knob a 100 TB job turns FIRST. Its documented
    // limit IS this spec's second assertion: when the join's output
    // partitioning is REQUIRED by the next operator (aggregating on
    // the join key — q31's exact shape), splitting would break that
    // distribution, AQE declines, and the hot key stays hot — that
    // boundary is where the salted rewrite remains necessary.
    // Thresholds lowered so the mechanism fires on a test-sized
    // fixture: one key carries ~90% of the left side.
    import org.apache.spark.sql.functions._
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // skew test = size > max(factor × MEDIAN partition size, threshold):
    // enough partitions that the median is a small one, not the hot one
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    // no broadcast: the skew mechanism under test is SMJ's
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def left = ss.range(0, 60000)
      .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id"))
        .as("k"), col("id").as("v"))
    def right = ss.range(0, 2000).select(col("id").as("k"),
      (col("id") * 7).as("w"))
    // 1. partitioning-free consumer (global aggregate): split fires
    val free = left.join(right, "k")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"))
    val got = free.collect().map(r => (r.getLong(0), r.getLong(1))).head
    val freePlan = free.queryExecution.executedPlan.toString
    assert(freePlan.contains("skew=true"), freePlan.take(800))
    // hot key 0: 54000 rows with id%10!=0 plus id=0 itself, each
    // pairing right w=0; plus the 199 singleton keys 10..1990
    assert(got._1 == 54001L + 199L, got)
    assert(got._2 == 7L * (10L to 1990L by 10).sum, got)
    // 2. the join key's partitioning required downstream: AQE declines
    val bound = left.join(right, "k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    bound.collect()
    val boundPlan = bound.queryExecution.executedPlan.toString
    assert(!boundPlan.contains("skew=true"), boundPlan.take(800))
  }

  test("salted result == plain unsalted join+agg on the same fixture") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val li = fixtureLineitem
    val got = Relational.saltedSkewJoin(li).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val fact = li.select(
      when(col("l_partkey") % 10 < 7, 0L).otherwise(col("l_partkey")).as("k"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("price"))
    val dim = fact.select(col("k")).distinct()
      .select(col("k"), (pmod(col("k"), lit(97)) + 1).cast(LongType).as("w"))
    val want = fact.join(dim, "k").groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("price") * col("w")).cast(DoubleType).as("weighted"))
      .orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }
}
