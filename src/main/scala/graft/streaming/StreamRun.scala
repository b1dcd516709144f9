package graft.streaming

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The substrate every replayed stream in the engine runs on — the
  * parity mounts (`StreamParityQueries.throughStream`), the live-ingest
  * mounts e51/e52, `RunDeployment --streaming`, `StateStress` and the
  * temporary checkpoints of `PipelineManager`. It owns four decisions:
  *
  *  - [[workdir]]: where stream files live. tmpfs (`/dev/shm`) when the
  *    host has one — the offset/commit logs fsync per micro-batch, and
  *    tmpfs saves ~0.5 s per mount against ext4 — else `java.io.tmpdir`.
  *    Each workdir carries its owner's pid in its name, is deleted at
  *    JVM exit, and is swept by the next JVM if its owner died without
  *    running the exit hook (kill -9, OOM).
  *  - [[stage]]: a bounded frame becomes a replayable feed — exactly `n`
  *    parquet chunk files, each a contiguous range of the fold order,
  *    replayed oldest first. [[pinReplayOrder]] is the ordering half
  *    alone, for files written some other way (e51's FLV segments).
  *  - [[session]]: the isolated session a stream runs on, so its conf
  *    pins never touch the caller's batch session.
  *  - [[drain]]: one completion rule — a parquet file sink (exactly-once
  *    via `_spark_metadata`) under `Trigger.AvailableNow`, awaited to
  *    termination, read back lazily as a batch frame.
  *
  * Durability is a per-deployment choice: a production stream points
  * its checkpoint at HDFS/S3 and pays the fsync as the price of
  * exactly-once; a replayed fixture needs neither.
  */
object StreamRun {

  private val Prefix = "graft-stream-"

  private lazy val root: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory) shm else new File(System.getProperty("java.io.tmpdir"))
  }

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  /** Sweep once, then delete this JVM's workdirs at exit. */
  private lazy val owned: Unit = {
    sweep(root)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      live.forEach(d => FileUtils.deleteQuietly(d))))
  }

  /** A fresh, empty directory named `graft-stream-<pid>-<tag>-…`, deleted
    * at JVM exit. It outlives the call on purpose: frames returned by
    * [[drain]] read their sink lazily, after the mount returns. */
  def workdir(tag: String): File = {
    require(tag.matches("[A-Za-z0-9_]+"), s"workdir tag '$tag'")
    owned
    val dir = java.nio.file.Files.createTempDirectory(root.toPath,
      s"$Prefix${ProcessHandle.current.pid}-$tag-").toFile
    live.add(dir)
    dir
  }

  /** Deletes the workdirs under `dir` whose owner process is gone.
    * A live owner's workdirs stay, however old. */
  private[graft] def sweep(dir: File): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val pid = f.getName.stripPrefix(Prefix).takeWhile(_.isDigit)
      if (f.getName.startsWith(s"$Prefix$pid-") && pid.toLongOption
          .exists(p => !ProcessHandle.of(p).isPresent))
        FileUtils.deleteQuietly(f)
    }

  /** Writes `frame` into `dir` as exactly `n` chunk files
    * `chunk-NNN.parquet`, range-partitioned on `order` in one
    * distributed job: each chunk is a contiguous range of the fold
    * order (equal keys never straddle a bound, so rows that sort last
    * — watermark sentinels — ride the last chunk), which is the only
    * property chunked folds need; order inside a chunk is free.
    * Fails if any range is empty. Chunks already in `dir` keep their
    * place: the new ones are numbered and replayed after them. */
  def stage(frame: DataFrame, order: Seq[Column], n: Int, dir: File): Unit = {
    val tmp = new File(dir, "_staging") // `_`: invisible to file sources
    frame.repartitionByRange(n, order: _*).write.parquet(tmp.toString)
    val parts = parquetFiles(tmp).sortBy(_.getName) // part-NNNNN order
    require(parts.length == n,
      s"expected $n non-empty chunks in $tmp, got ${parts.length}")
    val before = parquetFiles(dir)
    val chunks = parts.zipWithIndex.map { case (p, i) =>
      val dst = new File(dir, f"chunk-${before.length + i}%03d.parquet")
      java.nio.file.Files.move(p.toPath, dst.toPath)
      dst
    }
    FileUtils.deleteQuietly(tmp)
    pinReplayOrder(chunks.map(Seq(_)),
      before.map(_.lastModified + 1000L).maxOption
        .getOrElse(System.currentTimeMillis() - 600000L))
  }

  /** Pins modification times so a file source replays `generations`
    * in order: it orders files by mtime, and files written by parallel
    * tasks carry whatever times their tasks finished at. Every file of
    * generation `i` gets `from + i` seconds. */
  def pinReplayOrder(generations: Seq[Seq[File]],
      from: Long = System.currentTimeMillis() - 600000L): Unit =
    for ((gen, i) <- generations.zipWithIndex; f <- gen)
      require(f.setLastModified(from + i * 1000L), s"cannot set mtime of $f")

  private def parquetFiles(dir: File): Array[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))

  /** An isolated session on `s`'s SparkContext: its own SQLConf, so a
    * stream's pins — which a streaming query locks into its checkpoint
    * at first start — never reach the shared batch session, and
    * concurrent stream starts cannot race each other's conf.
    *
    *  - `shuffle.partitions` 4: the state-store width. Batch sessions
    *    size it for corpus shuffles; a low-key-cardinality state stream
    *    would pay that many mostly empty state-store tasks per batch.
    *  - no-data micro-batches off: they exist to fire event-time timers
    *    and evict watermarked state; mounts with neither would pay an
    *    extra batch for nothing. Timer mounts turn them back on.
    *
    * `conf` is applied last and overrides both. */
  def session(s: SparkSession, conf: Map[String, String] = Map.empty): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    conf.foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** Runs the streaming frame `df` to completion into a parquet file
    * sink at `dir/out` (checkpoint `dir/ckpt`) and returns a lazy batch
    * read of the sink on `s` (the batch read honors `_spark_metadata`).
    * `Trigger.AvailableNow` processes everything the sources hold at
    * start, honoring their per-trigger limits, then stops itself;
    * a failed batch surfaces from `awaitTermination`.
    *
    * `SPARK_GRAFT_STREAM_PHASES=1` prints the start and run times, the
    * batch count and each batch's `durationMs` under `tag` to stderr. */
  def drain(s: SparkSession, df: DataFrame, dir: File, tag: String): DataFrame = {
    val out = new File(dir, "out").toString
    val tS0 = System.nanoTime()
    val sq = df.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", new File(dir, "ckpt").toString)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    val tS1 = System.nanoTime()
    try sq.awaitTermination() finally sq.stop()
    val tS2 = System.nanoTime()
    if (sys.env.contains("SPARK_GRAFT_STREAM_PHASES")) {
      System.err.println(f"[phases] tag=$tag " +
        f"start=${(tS1-tS0)/1e9}%.2f run=${(tS2-tS1)/1e9}%.2f " +
        f"batches=${sq.recentProgress.length}")
      sq.recentProgress.foreach(p => System.err.println(
        s"[phases]   batch=${p.batchId} rows=${p.numInputRows} " +
          s"eventTime=${p.eventTime} durationMs=${p.durationMs}"))
    }
    s.read.parquet(out)
  }
}
