package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the engine's session-hygiene mechanism ([[Resources]]): scoped
  * checkpoints/caches must release when their scope closes, unscoped
  * ones must not be touched, and scopes must be thread-local so
  * concurrent queries (Verify's pool) can never release each other's
  * in-flight intermediates — the invariants behind round 6's fix of
  * the bench-contamination artifact.
  */
class ResourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("resources-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

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

  test("the checkpoint-plan dump follows SPARK_GRAFT_EXPLAIN_CHECKPOINTS=1 " +
      "only") {
    val key = "SPARK_GRAFT_EXPLAIN_CHECKPOINTS"
    assert(Resources.explainCheckpoints(Map(key -> "1")))
    for (off <- Seq(Map(key -> "0"), Map(key -> ""), Map.empty[String, String]))
      assert(!Resources.explainCheckpoints(off), s"$off must leave it off")
  }
}
