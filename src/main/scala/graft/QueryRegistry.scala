package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered, driver-verifiable query.
  *
  * @param fn      Spark implementation, given (session, sf-dir)
  * @param oracle  equivalent ANSI SQL for the DuckDB oracle; None → the
  *                driver records a weaker rows-only check (used for ops
  *                whose semantics are not SQL-expressible, e.g.
  *                probabilistic sketches). Built on first read: some
  *                inline kernel tables (p32/e58) the registry must not
  *                compute.
  *
  * Determinism conventions (the driver hash-compares values):
  *  - money-style sums go through DECIMAL(18,2) so the sum is exact and
  *    independent of partition/accumulation order on both engines, then
  *    cast to DOUBLE for a common output type;
  *  - integer outputs are cast to BIGINT on both sides;
  *  - timestamps are output as epoch millis (BIGINT) or formatted
  *    strings, never raw (the events table is ns-precision parquet,
  *    which Spark truncates to micros but DuckDB does not);
  *  - every query ends with a deterministic ORDER BY (ties broken by a
  *    unique key) so row order cannot differ.
  */
final class Q(val name: String, val fn: (SparkSession, String) => DataFrame,
    oracleSql: => Option[String]) { lazy val oracle: Option[String] = oracleSql }

object Q {
  def apply(name: String, fn: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): Q = new Q(name, fn, oracle)
}

object QueryRegistry {
  /** All modules contributing queries; SparkEntry aggregates this. */
  def modules: Seq[Seq[Q]] = Seq(
    graft.queries.Relational.all,
    graft.operators.EventOps.all,
    graft.operators.CalcQueries.all,
    graft.operators.DedupQueries.all,
    graft.operators.TextQueries.all,
    graft.operators.SimilarityQueries.all,
    graft.operators.SketchQueries.all,
    graft.operators.GraphQueries.all,
    graft.operators.DspQueries.all,
    graft.operators.MultimodalQueries.all,
    graft.operators.ContainerQueries.all,
    graft.operators.StreamParityQueries.all,
  )

  lazy val all: Seq[Q] = modules.flatten
}
