package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing removes the shuffle from co-located joins — the physical
  * plan of a bucketed lineitem⋈orders join must contain no Exchange,
  * while the plain parquet join does (SCALE.md "Joins"). */
class BucketingSpec extends AnyFunSuite with SparkFixture with TempDirs {

  override protected lazy val spark =
    newSession("spark.sql.autoBroadcastJoinThreshold" -> "-1") // force SMJ path

  private lazy val tableDir =
    tempDir("bucket-tables").toString

  private val sf = "/root/testdata/sf0.001"

  test("q32's partitioned layout prunes at planning time: the lang " +
      "predicate lands in PartitionFilters and only en files are read") {
    val df = graft.SparkEntry.queries("q32_partition_pruned")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^]]*lang[^]]*\\].*"),
      s"lang must be a partition filter:\n$plan")
    // equal to the unpartitioned computation
    val expect = Tables.documents(spark, sf).filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq)
  }

  test("q34 prunes at RUNTIME: the filtered-dim join injects a " +
      "dynamicpruning subquery into the fact scan's PartitionFilters") {
    val df = graft.SparkEntry.queries("q34_dynamic_pruning")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"DPP must fire on the lang-partitioned fact:\n${plan.take(2000)}")
    // equal to the unpartitioned semi-join computation
    val expect = Tables.documents(spark, sf)
      .filter(col("lang").isin("en", "fr", "es"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"), col("source"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expect.toSeq)
    assert(got.nonEmpty)
  }

  test("bucketed join has no Exchange; plain join does") {
    Tables.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "l_bucketed", 4, Seq("l_orderkey"), Some(s"$tableDir/l"))
    Tables.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "o_bucketed", 4, Seq("o_orderkey"), Some(s"$tableDir/o"))

    val bucketed = spark.table("l_bucketed")
      .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
    val plainL = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val plainO = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain = plainL.join(plainO, col("l_orderkey") === col("o_orderkey"))

    def physical(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    assert(!physical(bucketed).contains("Exchange"),
      "bucketed join should not shuffle")
    assert(physical(plain).contains("Exchange"),
      "plain join is expected to shuffle (sanity check)")
    // identical results either way
    assert(bucketed.count() == plain.count())
    assert(bucketed.count() > 0)
  }

  test("q30 (bucketed q04): the fact-fact join plans with no shuffle " +
      "on either input; results identical to q04") {
    // Own session: this spec's base session kills broadcast joins to
    // force SMJ everywhere, but q30's own contract is that dimension
    // hops broadcast and ONLY the final aggregate shuffles — assert it
    // under the engine's normal conf.
    val ss = newSession("spark.sql.autoBroadcastJoinThreshold" -> "10485760")
    val q30 = graft.SparkEntry.queries("q30_bucketed_join")(ss, sf)
    val q04 = graft.SparkEntry.queries("q04_multi_join")(ss, sf)
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val p30 = q30.queryExecution.executedPlan.toString
    assert(p30.contains("SortMergeJoin"), s"q30 must SMJ:\n$p30")
    assert(shuffles(q30) == 1,
      s"q30 must shuffle ONLY for the final aggregate:\n$p30")
    // sanity: the SAME SMJ on plain parquet shuffles both inputs (q04
    // itself broadcasts orders at this tiny SF, so force the merge)
    val plainSmj = Tables.lineitem(ss, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(ss, sf).select("o_orderkey", "o_custkey")
        .hint("merge"), col("l_orderkey") === col("o_orderkey"))
    assert(shuffles(plainSmj) >= 2,
      "sanity: un-bucketed SMJ must shuffle both fact inputs")
    assert(q30.collect().toSeq == q04.collect().toSeq,
      "bucketed layout must not change results")
  }

  test("minhash-LSH hot-bucket cap bounds pair work on a boilerplate corpus") {
    // The adversarial LSH input: a mega-group of identical boilerplate
    // docs. Every band hashes them into ONE bucket, so uncapped pair
    // work is |group|² — the corpus-scale failure mode. With the cap,
    // buckets over the limit are dropped before the join, so (a) no
    // boilerplate pair survives, (b) genuine small near-dup groups
    // still match, and (c) total candidates respect the linear bound
    // cap · bands · n_docs.
    import spark.implicits._
    val boiler = (0L until 300L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    // each genuine group is an exact pair; ACROSS groups the texts
    // share no shingle at all, so honest independent bands must not
    // produce any cross-group candidate
    val groupTexts = Seq(
      "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      "lima mike november oscar papa quebec romeo sierra tango uniform",
      "one two three four five six seven eight nine ten eleven twelve",
      "red orange yellow green blue indigo violet magenta cyan amber",
      "north south east west upward downward forward backward inward outward")
    val pairs = groupTexts.zipWithIndex.flatMap { case (text, g) =>
      Seq((1000L + 2 * g, text), (1001L + 2 * g, text))
    }
    val docs = (boiler ++ pairs).toDF("doc_id", "text")

    val cap = 32L
    val capped = graft.operators.DedupQueries.lshCandidates(docs, cap).collect()
    val uncapped = graft.operators.DedupQueries.lshCandidates(docs, 1000000L).count()

    // (a) the mega-bucket contributes nothing
    assert(!capped.exists(r => r.getLong(0) < 1000L || r.getLong(1) < 1000L),
      "boilerplate pairs must be dropped by the cap")
    // (b) all 5 genuine pairs survive
    val got = capped.map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0 until 5).map(g => (1000L + 2 * g, 1001L + 2 * g)).toSet
    assert(got == want, s"expected exactly the 5 genuine pairs, got $got")
    // (c) the linear candidate bound holds; uncapped is quadratic
    val nDocs = docs.count()
    assert(capped.length <= cap * 4 * nDocs,
      "candidates must respect the cap·bands·n bound")
    assert(uncapped >= 300L * 299L / 2,
      s"uncapped must show the quadratic blow-up (got $uncapped)")
  }

  test("minhash-LSH recall: exact dups are always candidates; 1-word-" +
      "edit near-dups (J~0.85) are candidates at banding-theory rates") {
    import spark.implicits._
    // 30 near-dup pairs: doc 2k is 24 distinct words, doc 2k+1 differs
    // in ONE middle word → shingle Jaccard ≈ 0.79-0.87; banding theory
    // (4 bands x 2 rows) gives P[candidate] = 1-(1-J^2)^4 ≈ 0.97-0.99.
    // Everything is md5-deterministic, so the observed hit count is a
    // constant of the code, not a flaky sample: assert >= 27/30, which
    // any correlated-banding regression (round-5 bug: all bands keyed
    // by the same min shingle) or hash-family typo would break.
    val base = (0 until 30).map { k =>
      (0 until 24).map(i => s"w${k}_$i").mkString(" ")
    }
    val pairs = base.zipWithIndex.flatMap { case (text, k) =>
      val edited = text.split(" ").updated(12, s"EDIT$k").mkString(" ")
      Seq((2L * k, text), (2L * k + 1, edited))
    }
    val exact = Seq((1000L, base.head + " tail"), (1001L, base.head + " tail"))
    val docs = (pairs ++ exact).toDF("doc_id", "text")
    val cand = graft.operators.DedupQueries.lshCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1000L, 1001L)), "exact dups must always band together")
    val hits = (0 until 30).count(k => cand.contains((2L * k, 2L * k + 1)))
    assert(hits >= 27, s"near-dup recall collapsed: $hits/30 pairs found")
  }

  test("sign-LSH: max bucket size shrinks as plane count grows") {
    // LSH pair work within a bucket is |bucket|² — the plane count must
    // demonstrably cap bucket size for the s02 shape to hold at scale.
    import spark.implicits._
    graft.functions.LongDot.ensureRegistered(spark)
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(2000)(Array.fill(64)(rnd.nextLong() % 1000L))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "q")
    def maxBucket(planes: Int): Long = vecs
      .select(graft.operators.SimilarityQueries.bucketCol(0, planes).as("bucket"))
      .groupBy(col("bucket")).count()
      .agg(max(col("count"))).head().getLong(0)
    val sizes = Seq(2, 4, 8).map(maxBucket)
    assert(sizes == sizes.sorted.reverse,
      s"max bucket should not grow with planes: $sizes")
    assert(sizes.last * 4 <= sizes.head,
      s"8 planes should shrink max bucket well below 2 planes: $sizes")
  }
}
