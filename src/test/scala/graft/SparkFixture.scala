package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The test JVM's one engine session: [[GraftSession.build]] on 2 cores
  * (`local[2]`, 2 shuffle partitions), so every suite runs under the
  * configs the engine ships. Built on first use; no suite stops it. */
object SparkFixture {
  lazy val root: SparkSession = GraftSession.build(cpus = 2)
}

/** A suite's sessions on the shared context: `spark` and any
  * [[newSession]] are `newSession()`s of [[SparkFixture.root]].
  * `afterAll` stops the streams of every session the suite opened,
  * releases their pinned tables and empties the cache manager (shared
  * by every session: a plan cached here would serve another suite's
  * equal plan), leaving the SparkContext running. */
trait SparkFixture extends BeforeAndAfterAll { this: Suite =>

  private val opened = scala.collection.mutable.ArrayBuffer.empty[SparkSession]

  /** A fresh session on the shared context with the runtime SQL confs
    * `confs` set, made the active session. */
  protected def newSession(confs: (String, String)*): SparkSession =
    synchronized {
      val s = SparkFixture.root.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      SparkSession.setActiveSession(s)
      opened += s
      s
    }

  protected lazy val spark: SparkSession = newSession()

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      opened.foreach { s =>
        s.streams.active.foreach(_.stop())
        Resources.releasePinned(s)
      }
      if (opened.nonEmpty) SparkFixture.root.catalog.clearCache()
      opened.clear()
    }
}
