package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named stream registry — the analogue of named outputs/inputs and
  * the NamedTopicManager (SURVEY §2.1 #18;
  * /root/reference/streamtasks/system/tasks/namedoutput.py:26-37,
  * named_topic_manager.py): string name → stream indirection across
  * deployments.
  *
  * Streams register as temp views and resolve through
  * `spark.table(name)` — the toTable/table mapping SURVEY §2.1
  * prescribes; a running deployment's sinks are published the same way
  * by [[graft.plans.PipelineManager]]. In a production deployment the
  * same API fronts Kafka topics by name.
  */
object NamedStreams {

  /** Publish a batch DataFrame under a name (named output). */
  def publish(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** Resolve a named stream (named input). */
  def resolve(spark: SparkSession, name: String): DataFrame = spark.table(name)

  def exists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)
}
