package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic quality of the approximate search paths, measured against
  * the exact brute-force baseline (s01) on the fixed sf0.001 fixture —
  * the property the oracle hash cannot see: the oracle proves both
  * engines compute the SAME approximate answer, this spec proves the
  * approximation is WORTH computing.
  *
  * The floor values are measured-on-this-fixture constants, not
  * guarantees: the fixture's 64-dim embeddings are weakly clustered
  * (13.6% of true top-5 neighbors share the query's label vs 10%
  * chance), which bounds any cell-probe method. What the pins DO
  * guard: a broken Lloyd step, a degenerate ADC table, or a
  * mis-ordered shortlist all crash recall to the ~10% chance floor
  * and fail here long before anyone reads a curve. */
class AnnRecallSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  private def pairs(name: String, q: String, n: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf)
      .select(q, n).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("s09 IVFADC recall@5 vs brute force stays above the trained-" +
      "quantizer floor (0.30; measured 0.376, chance ~0.10)") {
    val truth = pairs("s01_knn_bruteforce", "qid", "neighbor")
    val got = pairs("s09_ivfadc_search", "qid", "neighbor")
    assert(truth.nonEmpty)
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.30,
      f"s09 recall@5 collapsed to $recall%.3f — Lloyd training, the ADC " +
        "table, or the shortlist ordering regressed toward chance (~0.10)")
  }

  test("s10 SQ8 recall@5 vs the exact-dot ranking: 8-bit corpus codes " +
      "lose almost nothing (floor 0.85; the only error is per-dim " +
      "rounding <= span/255)") {
    import org.apache.spark.sql.functions._
    // exact integer-dot top-5 per query, computed in-JVM on the same
    // x1000-quantized vectors s10 dequantizes (s01 ranks by COSINE, a
    // different metric — this isolates the quantization error alone)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
        .as("q"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .filter { case (_, q) => q.exists(_ != 0L) }
    val queries = vecs.filter(_._1 < 25)
    val truth = queries.flatMap { case (qid, qq) =>
      vecs.filter(_._1 != qid)
        .map { case (vid, vq) =>
          (vid, qq.zip(vq).map { case (a, b) => a * b }.sum) }
        .sortBy { case (vid, s) => (-s, vid) }
        .take(5).map { case (vid, _) => (qid, vid) }
    }.toSet
    val got = pairs("s10_sq8_search", "qid", "neighbor")
    assert(truth.nonEmpty && got.nonEmpty)
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.85,
      f"SQ8 recall@5 vs exact dot fell to $recall%.3f — the affine " +
        "code/decode path lost more than rounding error")
  }

  test("s09 exact re-rank is faithful: every reported cosine matches " +
      "the brute-force cosine for pairs both paths rank") {
    val bf = SparkEntry.queries("s01_knn_bruteforce")(spark, sf)
      .select("qid", "neighbor", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val s09 = SparkEntry.queries("s09_ivfadc_search")(spark, sf)
      .select("qid", "neighbor", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shared = bf.keySet & s09.keySet
    assert(shared.nonEmpty)
    shared.foreach { k =>
      assert(bf(k) == s09(k),
        s"$k: re-ranked cosine ${s09(k)} != exact ${bf(k)}")
    }
  }
  test("s13 RAG pack invariants: budget, per-source cap, contiguous " +
      "relevance-ordered positions, retrieval consistency with s01") {
    val rows = SparkEntry.queries("s13_rag_pipeline")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("position"))
      // positions contiguous from 1
      assert(sorted.map(_.getAs[Long]("position")).toSeq
        === (1L to rs.length).toSeq, s"positions not contiguous for $qid")
      // budget respected and cum_tok really cumulative
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getAs[Long]("n_tok")
        assert(r.getAs[Long]("cum_tok") === cum, s"cum_tok drift for $qid")
      }
      assert(cum <= 192L, s"budget exceeded for $qid: $cum")
      // relevance monotone non-increasing along positions
      val rels = sorted.map(_.getAs[Double]("rel"))
      rels.sliding(2).foreach { case Array(a, b) =>
        assert(a >= b, s"relevance not monotone for $qid") }
      // per-source diversity cap
      rs.groupBy(_.getAs[String]("source")).foreach { case (src, g) =>
        assert(g.length <= 2, s"source cap violated for $qid/$src") }
    }
    // every packed doc is a true retrieval hit: it must appear in the
    // exact brute-force top-12 of its query (same metric, same corpus)
    val truth = SparkEntry.queries("s01_knn_bruteforce")(spark, sf)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor")))
      .toSet // s01 is top-5; packed position-1 docs of shared qids must hit
    byQ.filterKeys(_ < 8).foreach { case (qid, rs) =>
      val first = rs.minBy(_.getAs[Long]("position")).getAs[Long]("doc_id")
      if (truth.nonEmpty && truth.exists(_._1 == qid))
        assert(truth.contains((qid, first)),
          s"top packed doc $first of query $qid is not s01's top hit set")
    }
  }
}
