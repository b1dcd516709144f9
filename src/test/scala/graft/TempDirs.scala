package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The suite's temp dirs: each [[tempDir]] is deleted, with its
  * contents, in `afterAll`. Mix it in after [[SparkFixture]], so the
  * suite's streams stop before their checkpoint and sink dirs go. This
  * is the one place `src/test` calls `Files.createTempDirectory`
  * (TempDirsSpec scans for it). */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh dir under `java.io.tmpdir` named `prefix…`. */
  protected def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      made.foreach(d => FileUtils.deleteQuietly(d.toFile))
      made.clear()
    }
}
