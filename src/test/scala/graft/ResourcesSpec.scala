package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's session-hygiene mechanism ([[Resources]]): scoped
  * checkpoints/caches must release when their scope closes, unscoped
  * ones must not be touched, and scopes must be thread-local so
  * concurrent queries (Verify's pool) can never release each other's
  * in-flight intermediates — the invariants behind round 6's fix of
  * the bench-contamination artifact.
  */
class ResourcesSpec extends AnyFunSuite with SparkFixture {

  private def rddOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"expected LogicalRDD, got ${other.getClass}")
    }

  test("scoped checkpoint is materialized inside and released on close") {
    var rdd: org.apache.spark.rdd.RDD[_] = null
    Resources.withScope {
      val cp = Resources.checkpoint(spark.range(100).toDF("id"))
      rdd = rddOf(cp)
      assert(rdd.getStorageLevel != StorageLevel.NONE, "checkpoint persists")
      assert(cp.count() == 100)
    }
    assert(rdd.getStorageLevel == StorageLevel.NONE, "released on scope close")
  }

  test("no active scope: caller owns the lifetime (nothing auto-released)") {
    val cp = Resources.checkpoint(spark.range(10).toDF("id"))
    val rdd = rddOf(cp)
    assert(cp.count() == 10)
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    Resources.unpersistCheckpoint(cp) // explicit release still works
    assert(rdd.getStorageLevel == StorageLevel.NONE)
  }

  test("scopes are thread-local: a closing scope never releases another " +
      "thread's in-flight checkpoint") {
    val latchABuilt = new java.util.concurrent.CountDownLatch(1)
    val latchBDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var rddA: org.apache.spark.rdd.RDD[_] = null
    @volatile var levelWhileBClosed: StorageLevel = null
    val a = new Thread(() => Resources.withScope {
      val cp = Resources.checkpoint(spark.range(50).toDF("id"))
      rddA = rddOf(cp)
      latchABuilt.countDown()
      latchBDone.await() // B's scope has opened AND closed while A is live
      levelWhileBClosed = rddA.getStorageLevel
    })
    val b = new Thread(() => {
      latchABuilt.await()
      Resources.withScope {
        Resources.checkpoint(spark.range(5).toDF("id")).count()
      } // closes: must release only B's checkpoint
      latchBDone.countDown()
    })
    a.start(); b.start(); a.join(30000); b.join(30000)
    assert(levelWhileBClosed != StorageLevel.NONE,
      "B's scope close must not touch A's live checkpoint")
    assert(rddA.getStorageLevel == StorageLevel.NONE,
      "A's own close releases it")
  }

  test("nested scopes release LIFO; cache released like checkpoint") {
    var inner: org.apache.spark.sql.DataFrame = null
    var outer: org.apache.spark.sql.DataFrame = null
    Resources.withScope {
      outer = Resources.cache(spark.range(20).toDF("id"))
      assert(outer.count() == 20)
      Resources.withScope {
        inner = Resources.cache(spark.range(30).toDF("id"))
        assert(inner.count() == 30)
      }
      assert(inner.storageLevel == StorageLevel.NONE, "inner released first")
      assert(outer.storageLevel != StorageLevel.NONE, "outer still cached")
    }
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("releasing a session unpins d10's labels, g01's edges and q30's " +
      "bucketed tables; q30 on a later session rebuilds its tables") {
    val sf = "/root/testdata/sf0.001"
    def run(s: SparkSession, name: String): Unit =
      Resources.withScope(SparkEntry.queries(name)(s, sf).collect())
    def pinned(s: SparkSession, key: String): DataFrame =
      Resources.shared[DataFrame](s, key)(fail(s"$key is not pinned"))(_ => ())
    def bucketed(s: SparkSession): Seq[String] =
      s.catalog.listTables().collect().map(_.name).toSeq
        .filter(_.matches("graft_[lo]_bkt_.*")).sorted
    val s = newSession()
    Seq("g01_triangle_count", "d10_cc_fixpoint", "q30_bucketed_join")
      .foreach(run(s, _))
    val labels = rddOf(pinned(s, s"d10.labels:$sf"))
    val edges = rddOf(pinned(s, s"g01.edges:$sf"))
    assert(labels.getStorageLevel != StorageLevel.NONE)
    assert(edges.getStorageLevel != StorageLevel.NONE)
    assert(bucketed(s).size == 2)

    Resources.releasePinned(s) // what GraftSession.close runs before stop
    assert(labels.getStorageLevel == StorageLevel.NONE)
    assert(edges.getStorageLevel == StorageLevel.NONE)
    assert(bucketed(s).isEmpty)

    val later = newSession()
    run(later, "q30_bucketed_join")
    assert(bucketed(later).size == 2)
  }

  test("releasing a session deletes q32/q34's layout files; a later " +
      "session writes them again") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q32_partition_pruned", "q34_dynamic_pruning")
    def layouts(s: SparkSession): Seq[java.io.File] = {
      queries.foreach(q =>
        Resources.withScope(SparkEntry.queries(q)(s, sf).collect()))
      Seq(s"q32.partitioned:$sf", s"q34.langdim:$sf").map(key =>
        new java.io.File(Resources.shared[String](s, key)(
          fail(s"$key is not pinned"))(_ => ())))
    }
    val s = newSession()
    val files = layouts(s)
    assert(files.forall(_.isDirectory))
    Resources.releasePinned(s)
    assert(files.forall(!_.exists()), "released layouts are deleted")
    assert(layouts(newSession()).forall(_.isDirectory))
  }

  test("two sessions on one dir get their own q30 layout: releasing one " +
      "deletes its files and leaves the other's q30 readable") {
    val sf = "/root/testdata/sf0.001"
    val t0 = System.currentTimeMillis() / 1000 * 1000
    def run(s: SparkSession): Seq[String] = Resources.withScope(
      SparkEntry.queries("q30_bucketed_join")(s, sf).collect()
        .map(_.toString).toSeq)
    def layout(s: SparkSession): java.io.File =
      new java.io.File(Resources.shared[String](s, s"q30.bucketed:$sf")(
        fail("q30's layout is not pinned"))(_ => ()))
    val (s1, s2) = (newSession(), newSession())
    val want = run(s1)
    assert(run(s2) == want)
    val (d1, d2) = (layout(s1), layout(s2))
    assert(d1 != d2 && d1.isDirectory && d2.isDirectory)
    Resources.releasePinned(s1)
    assert(!d1.exists(), "the released session's files are deleted")
    assert(d2.isDirectory)
    assert(run(s2) == want)
    Resources.releasePinned(s2)
    assert(!d2.exists())
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val shared = Option(tmp.listFiles()).toSeq.flatten.filter(f =>
      f.getName.startsWith("graft-bucketed-") && f.lastModified >= t0)
    assert(shared.isEmpty, s"q30 wrote a shared layout: $shared")
  }

  /** Run `name` at sf0.001 to a noop sink inside one query scope. */
  private def scopedNoop(s: SparkSession, name: String): Unit =
    Resources.withScope(SparkEntry.queries(name)(s, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save())

  test("the graph fixpoints (g06 kcore, g07 sssp, g08 hyperballOn) leave " +
      "no persistent RDD behind their scope; g01's edges stay pinned") {
    val s = newSession()
    scopedNoop(s, "g01_triangle_count") // pins the shared edge table
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (q <- Seq("g06_kcore", "g07_sssp", "g08_hyperball")) {
      scopedNoop(s, q)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left persistent RDDs $left")
    }
    assert(before.subsetOf(sc.getPersistentRDDs.keySet),
      "the pinned g01 edges outlive the graph queries' scopes")
    Resources.releasePinned(s)
  }

  test("c10 and c14 cache their demux output only for the query's scope: " +
      "the CacheManager is empty after each scoped run") {
    val s = newSession()
    val cache = s.sharedState.cacheManager
    s.catalog.clearCache()
    for (q <- Seq("c10_media_deployment", "c14_live_deployment")) {
      scopedNoop(s, q)
      assert(cache.isEmpty, s"$q left a cached plan")
    }
  }

  test("the checkpoint-plan dump follows SPARK_GRAFT_EXPLAIN_CHECKPOINTS=1 " +
      "only") {
    val key = "SPARK_GRAFT_EXPLAIN_CHECKPOINTS"
    assert(Resources.explainCheckpoints(Map(key -> "1")))
    for (off <- Seq(Map(key -> "0"), Map(key -> ""), Map.empty[String, String]))
      assert(!Resources.explainCheckpoints(off), s"$off must leave it off")
  }
}
