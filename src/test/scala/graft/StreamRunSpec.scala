package graft

import java.io.File
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.StreamRun
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[StreamRun]] is the one substrate replayed streams run on: staged
  * chunks replay one per batch in fold order, workdirs are reclaimed
  * only from dead owners, and no other `src/main` file makes the
  * substrate's decisions itself. */
class StreamRunSpec extends AnyFunSuite with SparkFixture with TempDirs {

  private def chunks(dir: File): Seq[String] =
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  test("stage writes n chunks that replay as n batches in fold order; " +
      "an empty range fails loudly") {
    val dir = StreamRun.workdir("spec")
    // descending fold order: chunk-000 must hold the largest ids
    StreamRun.stage(spark.range(30).toDF(), Seq(col("id").desc), 3, dir)
    assert(chunks(dir) == Seq("chunk-000.parquet", "chunk-001.parquet",
      "chunk-002.parquet"))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val record: (DataFrame, Long) => Unit = (b, _) => {
      val r = b.agg(min("id"), max("id"), count(lit(1))).head()
      batches.add((r.getLong(0), r.getLong(1), r.getLong(2))); ()
    }
    val q = StreamRun.session(spark).readStream.schema("id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .writeStream.trigger(Trigger.AvailableNow()).foreachBatch(record).start()
    q.awaitTermination()
    val seen = batches.asScala.toSeq
    assert(seen.size == 3 && seen.forall(_._3 > 0), seen)
    assert(seen.map(_._3).sum == 30)
    assert(seen.zip(seen.tail).forall { case (a, b) => a._1 > b._2 },
      s"batches must replay descending id ranges: $seen")

    // a later stage appends after the existing chunks; replay order is
    // pinned one second apart in chunk order
    StreamRun.stage(spark.range(1).toDF(), Seq(col("id")), 1, dir)
    val mtimes = chunks(dir).map(new File(dir, _).lastModified)
    assert(mtimes.size == 4)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => b - a == 1000L },
      mtimes)

    val e = intercept[IllegalArgumentException] {
      StreamRun.stage(spark.range(10).select(lit(1).as("k"), col("id")),
        Seq(col("k")), 3, StreamRun.workdir("spec"))
    }
    assert(e.getMessage.contains("expected 3 non-empty chunks"))
  }

  test("drain runs a stream to completion and reads its sink back") {
    val src = StreamRun.workdir("spec")
    StreamRun.stage(spark.range(12).toDF(), Seq(col("id")), 2, src)
    val run = StreamRun.workdir("spec")
    val stream = StreamRun.session(spark).readStream.schema("id LONG")
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val out = StreamRun.drain(spark, stream, run, "spec")
    assert(out.sparkSession eq spark)
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq == (0L until 12L))
    val commits = new File(run, "ckpt/commits").listFiles()
      .count(f => !f.getName.startsWith("."))
    assert(commits == 2)
  }

  test("the sweep deletes workdirs of exited owners and keeps a live " +
      "owner's, however old") {
    val root = tempDir("streamrun-sweep").toFile
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = new File(root, s"graft-stream-${child.pid}-run-1")
    val live = new File(root, s"graft-stream-${ProcessHandle.current.pid}-run-2")
    val other = new File(root, "graft-stream-src-3")
    Seq(dead, live, other).foreach { d =>
      assert(d.mkdirs())
      Files.writeString(new File(d, "f").toPath, "x")
      d.setLastModified(0L)
    }
    StreamRun.sweep(root)
    assert(!dead.exists(), "an exited owner's workdir is swept")
    assert(live.exists(), "a live owner's workdir survives")
    assert(other.exists(), "a name without an owner pid is not ours")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    assert(StreamRun.workdir("spec").getName
      .startsWith(s"graft-stream-${ProcessHandle.current.pid}-spec-"))
  }

  test("StreamRun.scala is the only src/main file that picks a stream " +
      "directory, pins replay order, hooks JVM exit or opens a session") {
    val root = Paths.get("src/main")
    val sources = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), ISO_8859_1))
      .toSeq
    for (needle <- Seq("/dev/shm", "setLastModified", "addShutdownHook",
        ".newSession()")) {
      val hits = sources.collect { case (p, text) if text.contains(needle) => p }
      assert(hits == Seq("scala/graft/streaming/StreamRun.scala"), needle)
    }
  }
}
