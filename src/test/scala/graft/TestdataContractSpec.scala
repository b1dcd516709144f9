package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The contract between the driver-generated testdata and the query
  * registry, asserted column by column with a message that names the
  * table and column on drift.
  *
  * Motivation (round 7): the driver regenerated /root/testdata and
  * events.ts silently changed physical type, killing 66/132 registry
  * entries at analysis. Tables.events now normalizes that column
  * (IngestionSpec), and THIS spec pins every remaining assumption the
  * queries make, so a future regeneration fails one named assertion
  * here instead of half the registry downstream.
  *
  * Assumptions are stated against the POST-Tables view (what operators
  * actually consume), not the raw parquet — Tables is the engine's
  * ingestion boundary and is allowed to adapt physical drift.
  */
class TestdataContractSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def assertCols(table: String,
      df: org.apache.spark.sql.DataFrame, want: (String, String)*): Unit = {
    val got = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    for ((c, t) <- want) {
      assert(got.contains(c), s"$table.$c: column missing; present: " +
        got.keys.toSeq.sorted.mkString(", "))
      assert(got(c) == t,
        s"$table.$c: expected $t, testdata now reads as ${got(c)} — " +
          "adapt in Tables (ingestion boundary), not in the queries")
    }
  }

  test("events: normalized schema and value invariants") {
    val e = Tables.events(spark, sf)
    assertCols("events", e, "event_id" -> "bigint", "ts" -> "bigint",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string")
    val r = e.agg(
      min(col("ts")), max(col("ts")),
      min(col("user_id")),
      // props must stay parseable JSON with the keys queries extract
      count(when(col("props").isNotNull &&
        get_json_object(col("props"), "$.k").isNull, 1)),
      countDistinct(col("event_type"))).head()
    // ts is epoch NANOS: any re-encoding to ms/us would land orders of
    // magnitude below this band (2020–2040 ≈ 1.58e18..2.2e18 ns)
    assert(r.getLong(0) > 1500000000000000000L &&
      r.getLong(1) < 2300000000000000000L,
      s"events.ts: values outside the epoch-nanos band " +
        s"[${r.getLong(0)}, ${r.getLong(1)}] — encoding drift?")
    assert(r.getLong(2) >= 0L,
      "events.user_id: negative ids break pmod==% oracle parity")
    assert(r.getLong(3) == 0L,
      "events.props: rows where $.k is not JSON-extractable")
    assert(r.getLong(4) == 5L,
      "events.event_type: topic cardinality != 5 (click/view/error/signup/purchase)")
  }

  test("orders/lineitem: date columns and decimal-safe measures") {
    val o = Tables.orders(spark, sf)
    // timestamp_ntz is what the green relational surface was verified
    // on (naive timestamps: month/strftime are tz-independent). DATE
    // would also be tolerable for DuckDB parity but must be a deliberate
    // migration, not silent drift.
    assertCols("orders", o, "o_orderkey" -> "bigint",
      "o_custkey" -> "bigint", "o_orderstatus" -> "string",
      "o_totalprice" -> "double", "o_orderdate" -> "timestamp_ntz",
      "o_orderpriority" -> "string")
    val l = Tables.lineitem(spark, sf)
    assertCols("lineitem", l, "l_orderkey" -> "bigint",
      "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
      "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double",
      "l_tax" -> "double", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "timestamp_ntz")
    // measures are cast to DECIMAL(12,2) throughout the registry for
    // oracle-exact sums; values must fit that precision
    val m = l.agg(max(abs(col("l_extendedprice")))).head().getDouble(0)
    assert(m < 1e10, s"lineitem.l_extendedprice: |max|=$m overflows DECIMAL(12,2)")
  }

  test("dimension tables: join-key types the broadcast joins assume") {
    assertCols("region", Tables.region(spark, sf),
      "r_regionkey" -> "int", "r_name" -> "string")
    assertCols("nation", Tables.nation(spark, sf),
      "n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int")
    assertCols("customer", Tables.customer(spark, sf),
      "c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string")
    assertCols("supplier", Tables.supplier(spark, sf),
      "s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double")
    assertCols("part", Tables.part(spark, sf),
      "p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string",
      "p_size" -> "int", "p_retailprice" -> "double")
  }

  test("documents: text/lang nullability and id uniqueness") {
    val d = Tables.documents(spark, sf)
    assertCols("documents", d, "doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint")
    val r = d.agg(count(lit(1)), countDistinct(col("doc_id")),
      count(when(col("text").isNull, 1))).head()
    assert(r.getLong(0) == r.getLong(1),
      "documents.doc_id: duplicates — dedup oracles key on doc_id")
    assert(r.getLong(2) == 0L,
      "documents.text: nulls — shingle/quality paths assume non-null text")
  }

  test("embeddings: vector encoding the ANN family assumes") {
    val e = Tables.embeddings(spark, sf)
    assertCols("embeddings", e, "vec_id" -> "bigint",
      "embedding" -> "array<float>", "label" -> "int")
    val r = e.select(size(col("embedding")).as("dim"))
      .agg(min(col("dim")), max(col("dim"))).head()
    assert(r.getInt(0) == r.getInt(1) && r.getInt(0) > 0,
      s"embeddings.embedding: ragged dims [${r.getInt(0)}, ${r.getInt(1)}] " +
        "— dot products assume a fixed dimension")
  }
}
