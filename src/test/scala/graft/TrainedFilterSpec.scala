package graft

import graft.operators.{GraphQueries, TextQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-9 learned-filter additions:
  *  - ilog32 (the 1/32-bit integer log₂ behind t23's NB scores) is
  *    monotone and within its documented 0.086-bit error bound;
  *  - t23's Naive Bayes detector genuinely LEARNS: held-out accuracy
  *    is far above the 50% class prior (the fixture signal separates
  *    perfectly), and the split respects its md5 rule;
  *  - t22's DSIR selection lifts the target-domain (en) share of the
  *    kept set above the corpus base rate — the importance-resampling
  *    property that makes it a data-SELECTION operator, not a sample;
  *  - g05's multi-source BFS equals a direct sequential BFS on a
  *    crafted graph (path + branch + disconnected island), including
  *    min-over-seeds semantics and the hop bound.
  */
class TrainedFilterSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("ilog32: monotone, exact on powers of two, error < 0.086 bits") {
    import spark.implicits._
    // dense small range + spread large values (the model's x is
    // nc div (c+1): a few to a few-million at any realistic SF)
    val xs = ((1L to 4096L) ++ Seq(1L << 20, (1L << 20) + 7, 1L << 40,
      (1L << 40) + 12345, 999999937L)).toDF("x")
    val q = xs.select(col("x"),
      expr(TextQueries.ilog32("x")).as("q")).orderBy("x")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    q.sliding(2).foreach { case Array((x1, q1), (x2, q2)) =>
      assert(q1 <= q2, s"not monotone at $x1($q1) -> $x2($q2)")
    }
    q.foreach { case (x, v) =>
      val real = math.log(x.toDouble) / math.log(2.0)
      val approx = v / 32.0
      assert(math.abs(approx - real) < 0.086 + 1.0 / 32,
        s"x=$x approx=$approx real=$real")
      if ((x & (x - 1)) == 0) // power of two: exact
        assert(approx == real, s"x=$x should be exact")
    }
  }

  test("t23 NB detector: learns the flagged class on held-out docs") {
    val out = SparkEntry.queries("t23_nb_classifier")(spark, sf)
      .collect()
    assert(out.length > 50)
    val acc = out.map(_.getAs[Long]("correct")).sum.toDouble / out.length
    // class prior is ~0.5; the fixture signal separates perfectly
    assert(acc >= 0.95, s"held-out accuracy $acc — model did not learn")
    // both classes appear in truth and prediction (not a constant model)
    assert(out.map(_.getAs[String]("true_label")).distinct.sorted
      === Array("clean", "flagged"))
    assert(out.map(_.getAs[String]("pred_label")).distinct.sorted
      === Array("clean", "flagged"))
    // held-out fraction matches the md5 hex-prefix rule (4/16 ± slack)
    val total = Tables.documents(spark, sf).count()
    val frac = out.length.toDouble / total
    assert(frac > 0.15 && frac < 0.35, s"test fraction $frac")
  }

  test("t22 DSIR: kept set is target-shifted vs the corpus base rate") {
    val kept = SparkEntry.queries("t22_dsir_selection")(spark, sf)
      .collect()
    val base = Tables.documents(spark, sf)
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseEn = base("en").toDouble / base.values.sum
    val keptEn = kept.count(_.getAs[String]("lang") == "en").toDouble /
      kept.length
    assert(keptEn > baseEn + 0.1,
      s"en share kept=$keptEn base=$baseEn — no importance lift")
    // per-source stratification: every source keeps exactly top-40%
    val bySource = kept.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rows) =>
      val n = rows.length
      assert(rows.map(_.getAs[Long]("sample_rank")).sorted
        === (1L to n).toArray, s"ranks not contiguous for $src")
    }
  }

  test("g05 BFS == direct sequential BFS on a crafted graph") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6 (seed 0), branch 2-10, island 20-21 (seed 20)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 10L), (20L, 21L))
    val e = edges.toDF("u", "v")
    val seeds = Seq((0L, 0L), (20L, 0L)).toDF("node", "dist")
    val got = GraphQueries.bfsDistances(e, seeds, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // direct BFS, 4 rounds, min over both seeds
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    var dist = Map(0L -> 0L, 20L -> 0L)
    for (k <- 1 to 4) {
      val frontier = dist.filter(_._2 == k - 1).keys
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filterNot(dist.contains).map(_ -> k.toLong)
      dist = dist ++ nxt
    }
    assert(got === dist)
    assert(!got.contains(6L)) // 6 is 6 hops away: beyond the bound
    assert(got(10L) === 3L)   // branch via 2
    assert(got(21L) === 1L)   // island reached from its own seed
  }
}
