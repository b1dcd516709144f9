package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture tests for the round-5 corpus-pipeline additions:
  *
  *  - s07 BM25 ranking re-derived by an independent naive Scala
  *    implementation over the same parquet (same rational idf, same
  *    tf/dl/avgdl inputs) — the distributed one-scan + broadcast-stats
  *    formulation must produce the identical top-k order;
  *  - t13 funnel verdicts re-derived per doc from the emitted stats
  *    columns, plus funnel monotonicity of the implied stage counts;
  *  - d12 leakage-safety invariant: every duplicate cluster maps to
  *    exactly ONE split (the whole point of splitting by cluster id),
  *    all documents are assigned, and all three splits are non-empty
  *    at sf0.01.
  */
class RankFunnelSpec extends AnyFunSuite with SparkFixture {

  private def q(name: String) =
    QueryRegistry.all.find(_.name == name).get.fn

  test("s07 BM25 top-20 == naive in-memory BM25 over the same corpus") {
    val sf = "/root/testdata/sf0.01"
    val got = q("s07_bm25_rank")(spark, sf)
      .collect().map(r => (r.getLong(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("doc_id")), r.getDouble(r.fieldIndex("score"))))
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val terms = graft.operators.SimilarityQueries.bm25Terms
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / n
    val dfT = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    def score(w: Seq[String]): Double = {
      val dl = w.size.toDouble
      terms.map { t =>
        val tf = w.count(_ == t).toDouble
        val idf = (n - dfT(t) + 0.5) / (dfT(t) + 0.5)
        idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }.reduce(_ + _)
    }
    val want = docs.map { case (id, w) => (id, score(w)) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    assert(got.length == 20)
    got.zip(want).zipWithIndex.foreach { case (((rank, gid, gs), (wid, ws)), i) =>
      assert(rank == i + 1)
      assert(gid == wid, s"rank ${i + 1}: got doc $gid, naive says $wid")
      assert(math.abs(gs - ws) < 1e-9, s"doc $gid score $gs vs naive $ws")
    }
  }

  test("t13 funnel verdict matches its own emitted stats; counts are a funnel") {
    val rows = q("t13_filter_funnel")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dl = r.getLong(r.fieldIndex("dl"))
      val vocab = r.getLong(r.fieldIndex("vocab"))
      val maxTok = r.getLong(r.fieldIndex("max_tok"))
      val expect =
        if (dl < 30) "1_min_len"
        else if (dl > 80) "2_max_len"
        else if (vocab * 100 < dl * 35) "3_vocab_ratio"
        else if (maxTok * 8 > dl) "4_repetition"
        else "pass"
      assert(r.getString(r.fieldIndex("first_fail")) == expect)
    }
    val byStage = rows.groupBy(_.getString(4)).view.mapValues(_.length).toMap
    // every stage discriminates on the synthetic corpus
    Seq("1_min_len", "2_max_len", "3_vocab_ratio", "4_repetition", "pass")
      .foreach(s => assert(byStage.getOrElse(s, 0) > 0, s"stage $s empty"))
  }

  test("d12 split is leakage-safe: one split per cluster, all docs assigned") {
    val sf = "/root/testdata/sf0.01"
    val rows = q("d12_leakage_safe_split")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every document gets a split")
    val splitsPerCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    splitsPerCluster.foreach { case (cluster, splits) =>
      assert(splits.size == 1, s"cluster $cluster straddles splits $splits")
    }
    val bySplit = rows.groupBy(_._3).view.mapValues(_.length).toMap
    Seq("train", "val", "test").foreach(s =>
      assert(bySplit.getOrElse(s, 0) > 0, s"split $s empty"))
    // multi-doc clusters exist at sf0.01, so the invariant is exercised
    assert(rows.groupBy(_._2).exists(_._2.length > 1))
  }
}
