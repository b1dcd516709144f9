package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** s11 (MMR re-rank): the unrolled-join greedy recurrence checked
  * against a third, direct implementation (plain Scala greedy over the
  * same quantized integers) — independent of both the Catalyst plan
  * and the DuckDB oracle. Also pins the two semantic anchors: the
  * first pick is the pure-relevance top-1, and MMR genuinely
  * diversifies (some query's selection differs from pure-rel top-k —
  * if it never did, the diversity term would be dead code). */
class MmrSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"
  private val Shortlist = 12
  private val K = 5
  private val Lambda = 0.7

  /** Quantized vectors keyed by id — same floor(x*1000) integers as
    * the query plan. */
  private def vecs(): Map[Long, Array[Long]] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val id = r.getLong(0)
        val e = r.getSeq[Float](1).toArray
        id -> e.map(x => math.floor(x.toDouble * 1000).toLong)
      }.toMap

  private def cos(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Direct greedy MMR, identical tie-breaks. */
  private def mmrDirect(): Seq[(Long, Long, Long)] = {
    val v = vecs().filter { case (_, q) => q.exists(_ != 0L) }
    val qids = v.keys.filter(_ < 25).toSeq.sorted
    qids.flatMap { qid =>
      val rel = v.toSeq.filter(_._1 != qid)
        .map { case (id, q) => (id, cos(v(qid), q)) }
        .sortBy { case (id, r) => (-r, id) }
        .take(Shortlist)
      var selected = Vector(rel.head._1)
      while (selected.size < K) {
        val pick = rel.filterNot(c => selected.contains(c._1))
          .map { case (id, r) =>
            val ms = selected.map(s => cos(v(id), v(s))).max
            (id, Lambda * r - (1 - Lambda) * ms)
          }
          .minBy { case (id, score) => (-score, id) }._1
        selected = selected :+ pick
      }
      selected.zipWithIndex.map { case (id, i) =>
        (qid, (i + 1).toLong, id)
      }
    }
  }

  test("s11 unrolled-join greedy == direct Scala greedy (ids and ranks)") {
    val got = SparkEntry.queries("s11_mmr_rerank")(spark, sf)
      .select(col("qid"), col("rank"), col("neighbor"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = mmrDirect()
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("first pick is the pure-relevance top-1; diversity term is live") {
    val s11 = SparkEntry.queries("s11_mmr_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // s01's schema is (qid, neighbor, rank, cosine) — reorder to
    // (qid, rank, neighbor) to match s11's projection here.
    val s01 = SparkEntry.queries("s01_knn_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1)))
    val mmr1 = s11.filter(_._2 == 1L).map(t => (t._1, t._3)).toMap
    val rel1 = s01.filter(_._2 == 1L).map(t => (t._1, t._3)).toMap
    assert(mmr1 == rel1)
    // pure-rel top-5 per query vs MMR selection: at least one query
    // must differ, else λ·rel dominates everywhere and the fixture
    // proves nothing about the diversity term.
    val mmrSel = s11.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val relSel = s01.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(mmrSel.keySet == relSel.keySet)
    assert(mmrSel.exists { case (q, sel) => sel != relSel(q) })
  }
}
