package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by the modules listed in [[QueryRegistry]];
  * each [[Q]] carries the Spark implementation and (where the semantics
  * are ANSI-SQL-expressible) the DuckDB oracle SQL with identical output
  * column names, types and ordering.
  */
object SparkEntry {
  /** Flagship: the SURVEY §7.2 minimum end-to-end slice, run through
    * the deployment-pipeline DSL on sf0.001 — events become number
    * streams, a calculator formula feeds a gate whose control is a
    * thresholded signal, and the gated stream is aggregated into
    * 1-hour windows. Exercises the envelope model, the expression
    * compiler, a stateful operator, and a windowed sink in one plan.
    * Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.plans.Pipeline
    import graft.plans.Pipeline._
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val e = Tables.eventsMs(spark, dir)
    def src(t: String) = e.filter(col("event_type") === t)
      .select(col("ts_ms").as("ts"), col("value"),
        lit(null).cast("string").as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val ctrl = e.filter(col("event_type") === "error")
      .select(col("ts_ms").as("ts"),
        when(col("value") > 10, 1.0).otherwise(0.0).as("value"),
        lit(null).cast("string").as("text"), lit(false).as("paused"),
        col("event_id").as("seq"))
    val dep = Deployment("flagship", Seq(
      TaskSpec("clicks", SourceOp(IOMeta.number), Nil, "a"),
      TaskSpec("ctrl", SourceOp(IOMeta.number), Nil, "play"),
      TaskSpec("calc", CalculatorOp("a * 2 + 1", Seq("a")), Seq("a"), "doubled"),
      TaskSpec("gate", GateOp(), Seq("doubled", "play"), "gated")))
    val gated = Pipeline.compile(dep,
      Map("a" -> src("click"), "play" -> ctrl))("gated")
    gated
      .filter(!col("paused")) // aggregate data rows, not pause markers
      .groupBy(window(timestamp_millis(col("ts")), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("mean"))
      .select(col("w.start").as("window_start"), col("n"), col("mean"))
      .orderBy(col("window_start"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
