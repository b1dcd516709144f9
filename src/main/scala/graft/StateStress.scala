package graft

import graft.streaming.{StateMachines, StatefulRunner, StreamRun}
import graft.streaming.StatefulRunner.KEv
import org.apache.spark.sql.functions._

/** STATE-LARGER-THAN-MEMORY evidence main: drives the time-buffer
  * machine (SURVEY §2.1 #14) on the RocksDB state store until the
  * held state exceeds BOTH the JVM heap budget and the configured
  * RocksDB memory cap, then restarts the query from its checkpoint
  * and drains — the spill story SURVEY §7.4 claims ("bound by
  * watermark + RocksDB store"), measured instead of asserted.
  *
  * Run with a deliberately small heap to make the claim sharp:
  *   SPARK_DRIVER_MEM=2g SPARK_GRAFT_CPUS=8 sbt "runMain graft.StateStress"
  * defaults: 30k keys × 100 events × ~1 KiB payload ≈ 3 GiB of
  * buffered state vs a 2 GiB heap and a 256 MiB RocksDB memory bound
  * (block cache + memtables, `boundedMemoryUsage`) — state that could
  * not live on the heap keeps streaming because RocksDB keeps it in
  * SST files on local disk (everything under /tmp, NOT tmpfs, so the
  * bytes genuinely leave RAM control).
  *
  * Phases:
  *  1. INGEST: 8 file-source micro-batches (key-range chunks) append
  *     every event into per-key TimeBuffer state (size bound far in
  *     the future — nothing releases). Reports rows/s and the state
  *     operator's reported state/SST sizes per batch.
  *  2. RESTART+DRAIN: the query STOPS, a release chunk (one far-
  *     future event per key) lands in the source dir, and a NEW query
  *     starts from the same checkpoint — state recovers from the
  *     RocksDB snapshot, the release batch pops every buffer, and the
  *     sink must hold exactly the ingested rows (count + checksum
  *     against the source files).
  *
  * Output: one JSON line (state bytes, heap, budget, rows/s, restart
  * verdict) for SCALE.md.
  */
object StateStress {
  def main(args: Array[String]): Unit = {
    val nKeys = sys.env.getOrElse("SPARK_GRAFT_STRESS_KEYS", "30000").toLong
    val perKey = sys.env.getOrElse("SPARK_GRAFT_STRESS_PERKEY", "100").toLong
    val batches = 8
    val spark = GraftSession.build()

    val base = new java.io.File(
      s"/tmp/graft-state-stress-${System.nanoTime()}")
    val src = new java.io.File(base, "src"); src.mkdirs()
    val outDir = new java.io.File(base, "out")
    val ckpt = new java.io.File(base, "ckpt")

    // ---- fixture: nKeys × perKey events, ~1 KiB incompressible text
    // per event, chunked by KEY RANGE (each ingest batch owns a key
    // block; the block's state then sits untouched in RocksDB until
    // the drain — accumulation without rewrite amplification).
    val nRows = nKeys * perKey
    val fixture = spark.range(nRows).select(
      (col("id") % nKeys).cast("string").as("key"),
      lit(0).as("topic"),
      expr(s"id DIV $nKeys").as("ts"), // event index within the key
      (col("id") % 7).cast("double").as("value"),
      // ~1 KiB of per-row-distinct hex (32 md5 blocks)
      expr("concat_ws('', transform(sequence(0, 31), " +
        "i -> md5(cast(id * 37 + i as string))))").as("text"),
      lit(false).as("paused"), col("id").as("seq"))
    StreamRun.stage(fixture, Seq(col("seq") % nKeys), batches, src)
    val srcAgg = spark.read.parquet(src.toString)
      .agg(count(lit(1)), sum(col("value")), sum(length(col("text"))))
      .head()
    val (srcRows, srcSum, srcBytes) =
      (srcAgg.getLong(0), srcAgg.getDouble(1), srcAgg.getLong(2))

    def startQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      // RocksDB with a bounded memory budget, at the batch session's
      // state width (the key count is corpus-sized here)
      val ss = StreamRun.session(spark, Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider"),
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "256",
        "spark.sql.shuffle.partitions" ->
          spark.conf.get("spark.sql.shuffle.partitions")))
      val in = ss.readStream.schema(StatefulRunner.kevEnc.schema)
        .option("maxFilesPerTrigger", "1") // one key-block chunk per batch
        .parquet(src.toString)
        .as[KEv](StatefulRunner.kevEnc)
      StatefulRunner
        .runStreaming(new StateMachines.TimeBuffer(1L << 40), in)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
    }

    // ---- phase 1: ingest — state accumulates, nothing releases
    val t0 = System.nanoTime()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    val ingestSec = (System.nanoTime() - t0) / 1e9
    val sop = q1.lastProgress.stateOperators.apply(0)
    val custom = sop.customMetrics
    def metric(name: String): Long =
      Option(custom.get(name)).map(_.longValue).getOrElse(-1L)
    val stateRows = sop.numRowsTotal
    val sstBytes = metric("rocksdbSstFileSize")
    val rocksMem = metric("rocksdbPinnedBlocksMemoryUsage")
    System.err.println(f"[stress] ingest $srcRows rows (${srcBytes / 1e9}%.2f GB payload) " +
      f"in $ingestSec%.1f s; state rows=$stateRows sst=${sstBytes / 1e9}%.2f GB " +
      f"rocksMem=${rocksMem / 1e6}%.0f MB heap=${Runtime.getRuntime.maxMemory / 1e9}%.2f GB")

    // ---- phase 2: restart from checkpoint + drain via release chunk
    val release = spark.range(nKeys).select(
      col("id").cast("string").as("key"), lit(0).as("topic"),
      lit(1L << 41).as("ts"), lit(-1.0).as("value"),
      lit(null).cast("string").as("text"), lit(false).as("paused"),
      (col("id") + nRows).as("seq"))
    // replays after the ingest chunks: the only new file on restart
    StreamRun.stage(release, Seq(col("key")), 1, src)
    val t1 = System.nanoTime()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val drainSec = (System.nanoTime() - t1) / 1e9

    val outAgg = spark.read.parquet(outDir.toString)
      .filter(!col("paused"))
      .agg(count(lit(1)), sum(col("value")), sum(length(col("text"))))
      .head()
    val ok = outAgg.getLong(0) == srcRows &&
      outAgg.getDouble(1) == srcSum && outAgg.getLong(2) == srcBytes
    System.err.println(f"[stress] drain $drainSec%.1f s; sink rows=${outAgg.getLong(0)} " +
      s"checksum_ok=$ok")
    println(
      s"""{"metric":"state_stress","rows":$srcRows,""" +
        s""""payload_bytes":$srcBytes,"state_rows":$stateRows,""" +
        s""""sst_bytes":$sstBytes,"rocksdb_mem_bytes":$rocksMem,""" +
        s""""heap_bytes":${Runtime.getRuntime.maxMemory},""" +
        f""""ingest_sec":$ingestSec%.1f,"drain_sec":$drainSec%.1f,""" +
        f""""ingest_rows_per_sec":${srcRows / ingestSec}%.0f,""" +
        s""""restart_checksum_ok":$ok}""")
    org.apache.hadoop.fs.FileUtil.fullyDelete(base)
    GraftSession.close(spark)
    if (!ok) sys.exit(1)
  }
}
