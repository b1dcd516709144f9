package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).
  *
  * Each table is one parquet file under the scale-factor directory. All
  * reads go through here so that column pruning / filter pushdown can be
  * verified in one place and so a future cluster deployment can swap the
  * path scheme (e.g. bucketed tables, a catalog) without touching
  * operators.
  *
  * A table's schema is inferred once per file state: its leaf files
  * (path, length, modification time) plus the session's parquet-read
  * confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  * `spark.sql.caseSensitive`). Every load with that state reads with
  * the remembered schema, which launches no Spark job; plain
  * `spark.read.parquet` runs a footer-reading inference job on every
  * call. A rewritten table, or a session with other parquet confs, gets
  * a fresh inference on its next load. (A rewrite in place that keeps
  * every leaf's name, length and modification time is not seen; Spark
  * writers name each part file afresh.)
  *
  * Scale notes: at 100 TB these reads become multi-file partitioned
  * scans; nothing here assumes a single file. Dimension tables (region,
  * nation, supplier, part, customer) stay broadcast-sized even at large
  * SF multipliers, so joins against them should use `broadcast()` — see
  * graft.queries.Relational.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, name)._1

  /** A table path's leaf files and the parquet-read confs its schema was
    * inferred under; a different value is a different file state. */
  private final case class FileState(files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)]) {
    def bytes: Long = files.map(_._2).sum
  }

  /** Path → (file state, schema): one entry per path, replaced (never
    * served) when the state differs. Holds no session, so it is
    * JVM-wide and needs no invalidation hook. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (FileState, StructType)]

  private def fileState(spark: SparkSession, path: String): FileState = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { // a missing table: the read itself raises PATH_NOT_FOUND
      case _: java.io.FileNotFoundException =>
    }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted
    FileState(files.result().sorted, confs)
  }

  private def read(spark: SparkSession, dir: String,
      name: String): (DataFrame, FileState) = {
    val path = s"$dir/$name.parquet"
    // events.parquet has shipped as TIMESTAMP(NANOS), which Spark 4
    // refuses by default — the legacy conf reads it as a nanos Long
    // instead; timestamp[us] variants are normalized in events().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val state = fileState(spark, path)
    val schema = schemas.get(path) match {
      case (`state`, s) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemas.put(path, (state, s))
        s
    }
    // file sources mark a given schema nullable exactly as they mark an
    // inferred one, so the plan and the rows are those of a cold read
    (spark.read.schema(schema).parquet(path), state)
  }

  /** Events with `ts_ms: Long` (epoch millis) derived from the nanos
    * Long `ts` by integer division — double division would lose
    * precision at ~1.7e18 ns. Matches the reference's integer-ms
    * convention (/root/reference/streamtasks/utils.py:291); DuckDB
    * oracle equivalent: `epoch_ms(ts)`.
    */
  def eventsMs(s: SparkSession, d: String): DataFrame =
    events(s, d).withColumn("ts_ms",
      org.apache.spark.sql.functions.expr("ts DIV 1000000"))

  /** Schema-adaptive normalization of the events `ts` column to epoch
    * NANOS as Long — the engine-internal encoding every downstream
    * operator assumes. The driver has regenerated events.parquet with
    * different physical types across rounds (int64 nanos through r6,
    * timestamp[us] from r7's regeneration); both must read to identical
    * values. Both conversions are SESSION-TIMEZONE-INDEPENDENT, which
    * is the property that makes them match DuckDB's epoch_ms on the
    * same file: a naive timestamp (TIMESTAMP_NTZ — what pandas-written
    * timestamp[us] infers to) converts by pure wall-clock arithmetic
    * against the NTZ epoch (a cast through TIMESTAMP would instead
    * re-interpret the wall time in the session zone: measured 5h off
    * under America/New_York); an instant (TIMESTAMP, isAdjustedToUTC
    * parquet) converts via unix_micros, which returns the stored
    * micros verbatim in any session zone. IngestionSpec pins all
    * encodings, including under a non-UTC session. */
  private def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df // legacy int64-nanos encoding: already normal
      case TimestampNTZType => df.withColumn("ts", expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000"))
      case _ => df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Write a table bucketed (and sorted) by join keys so repeated
    * fact-fact joins on those keys need no exchange: both sides read
    * pre-partitioned, and SortMergeJoin skips its shuffle AND sort.
    * The 100 TB pattern for lineitem⋈orders-style joins that run on
    * every pipeline tick (SCALE.md "Joins"). `path` makes the table
    * external (data at the given location instead of the session
    * warehouse) — the catalog entry is in-memory either way; the
    * files are the durable artifact, exactly like a curated bucketed
    * layout on a cluster. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String], path: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
    path.foreach(p => w.option("path", p))
    w.saveAsTable(table)
  }

  /** Date-bearing columns have shipped as timestamp[us] (inferring
    * TIMESTAMP_NTZ — the type the whole relational surface is verified
    * on); parquet written by other engines flips such columns to DATE
    * routinely. A DATE arrival widens to the verified NTZ type at
    * midnight — the same values every date function (month, strftime,
    * datediff) extracts on both engines, so the queries and oracles
    * never see the physical flip. Same drift-at-the-boundary rule as
    * normalizeTs; TestdataContractSpec pins the post-Tables view. */
  private def dateToNtz(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType => df.withColumn(c,
        org.apache.spark.sql.functions.col(c)
          .cast(org.apache.spark.sql.types.TimestampNTZType))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    dateToNtz(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    dateToNtz(load(s, d, "lineitem"), "l_shipdate")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  /** documents/embeddings arrive as ONE row group per file, so the scan
    * is a single task — but every downstream query does heavy per-row
    * work (shingle md5s, quantized dot products). Spread rows across the
    * cluster first: one tiny exchange, reused (ReusedExchange) by every
    * self-join/agg reference to the table. On a real multi-file 100 TB
    * layout the scan is already split and this repartition would be
    * dropped (cost there: a full-table shuffle — do NOT keep it at
    * scale; split the files instead).
    *
    * WIDTH is sized to the DATA, not blindly to the cluster: every
    * partition of a checkpointed/cached staging RDD pays a fixed
    * per-task cost in every downstream stage (task setup, codegen
    * instantiation, hash-table allocs), so a 2.5 MB fixture split 32
    * ways spends ~4× the CPU of the same plan at its natural width —
    * measured round 7: d03's direct join at width 32 = 23.4 s taskMs
    * vs 6.0 s at width 4, identical wall when uncontended, and under
    * CPU contention (the driver's shared box) that wasted CPU turns
    * directly into wall time. The divisor is per-table because it
    * models DOWNSTREAM WORK PER BYTE, not scan cost: documents fan
    * out ~10× through shingle explosion + per-shingle hashing (32 KB
    * of parquet ≈ a full task of CPU), while embeddings are consumed
    * row-for-row by codegen'd dot products (128 KB barely fills one).
    * Measured round 7 (sf0.1, 32 cores): documents at width 18 keeps
    * the shingle family's wall at its width-32 value with ~½ the CPU;
    * embeddings at width 6 holds s01/s08 wall FLAT (0.55 s) while
    * cutting their taskMs 8.5 s → 0.5 s. Both tables reach full
    * cluster width by the ×10 decade, so no scale path narrows.
    * The byte total comes from the leaf listing of the load's file
    * state. SPARK_GRAFT_SPREAD overrides (the per-deployment tuning
    * knob). */
  private def spread(s: SparkSession, dir: String, name: String,
      bytesPerPartition: Long): DataFrame = {
    val (df, state) = read(s, dir, name)
    val w = sys.env.get("SPARK_GRAFT_SPREAD").map(_.toInt).getOrElse {
      math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
        state.bytes / bytesPerPartition)).toInt
    }
    df.repartition(w)
  }

  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, d, "documents", 32L << 10)
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, d, "embeddings", 128L << 10)
}
