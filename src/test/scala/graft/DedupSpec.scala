package graft

import graft.operators.DedupQueries
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property test for the prefix-filtered Jaccard self-join (d03): on
  * random small-vocab corpora (small vocab forces high shingle document
  * frequencies and real near-duplicates) the distributed prefix-filter
  * pipeline must emit EXACTLY the pairs a naive all-pairs set-Jaccard
  * over word-3-gram shingles emits — the prefix filter and length
  * filter are candidate-pruning only, never result-changing.
  */
class DedupSpec extends AnyFunSuite with SparkFixture {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  /** Corpora of 12 docs over an 8-word vocabulary, 3..14 words each —
    * dense enough that most doc pairs share shingles and several pass
    * the 0.5 threshold. Duplicate a doc outright with prob ~1/4. */
  private val genCorpus: Gen[List[String]] = {
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g", "hhh")
    val genDoc = for {
      n <- Gen.choose(3, 14)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    for {
      base <- Gen.listOfN(9, genDoc)
      dups <- Gen.listOfN(3, Gen.oneOf(base))
    } yield base ++ dups
  }

  private def shingleSet(text: String): Set[String] =
    text.trim.split("\\s+").toList.sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSet

  private def naive(docs: List[String], t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.zipWithIndex.collect {
      case (d, i) if d.trim.split("\\s+").length >= 3 =>
        (i.toLong, shingleSet(d))
    }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (ia, ib, j)).toSet
  }

  test("d03 similarity join == naive all-pairs Jaccard on random " +
      "corpora, on BOTH physical strategies (prefix + direct)") {
    import spark.implicits._
    check(Prop.forAll(genCorpus) { docs =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val want = naive(docs, 0.5)
      Seq("prefix", "direct").forall { strat =>
        val got = DedupQueries.jaccardSelfJoin(df, 0.5, Some(strat))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        got == want
      }
    })
  }

  test("d11 substring dedup: an L-token shared span yields exactly " +
      "L-w+1 duplicated windows on each side (Lee et al. span math)") {
    import spark.implicits._
    // doc 0 and doc 1 share an exact 12-token span inside otherwise
    // disjoint text; doc 2 is unrelated; w = 8 → 12-8+1 = 5 duplicated
    // window positions per affected doc
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"aa bb cc $span dd ee"),
      (1L, s"xx yy $span zz ww vv uu"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14")
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringDupStats(docs, w = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 0: 17 tokens → 10 windows; doc 1: 18 tokens → 11 windows
    assert(got == Seq((0L, 10L, 5L), (1L, 11L, 5L)))
  }

  test("d13 span extraction: consecutive duplicated windows merge back " +
      "into the exact maximal shared span, with its md5") {
    import spark.implicits._
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"aa bb cc $span dd ee"),
      (1L, s"xx yy $span zz ww vv uu"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14")
    ).toDF("doc_id", "text")
    val got = DedupQueries.dupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val spanMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(span.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 0: span tokens 3..14 → start 3 len 12; doc 1: start 2 len 12
    assert(got.toSeq == Seq((0L, 3L, 12L, spanMd5), (1L, 2L, 12L, spanMd5)))
  }

  test("d13 two disjoint shared spans in one doc stay two spans; " +
      "overlapping-coverage spans merge in d14's scrub") {
    import spark.implicits._
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (0L, s"$a gap1 gap2 gap3 $b"),
      (1L, s"$a zz1 zz2 zz3 zz4 zz5 zz6 zz7 $b")
    ).toDF("doc_id", "text")
    val spans = DedupQueries.dupSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 0: a at 0..7, b at 11..18; doc 1: a at 0..7, b at 15..22
    assert(spans.toSeq == Seq((0L, 0L, 8L), (0L, 11L, 8L),
      (1L, 0L, 8L), (1L, 15L, 8L)))
    val scrub = DedupQueries.spanScrub(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 0: 19 tokens, 16 removed (two 8-spans), 3 gap tokens kept
    // doc 1: 23 tokens, 16 removed, 7 kept
    assert(scrub.toSeq == Seq((0L, 19L, 3L, 16L), (1L, 23L, 7L, 16L)))
  }

  test("d15 SemDeDup: the Lloyd reassignment moves a mislabeled vector " +
      "into its geometric cell, and near-dup edges form within cells " +
      "only") {
    import spark.implicits._
    // two well-separated clusters on the x/y axes; vec 4 is LABELED 0
    // (cluster A) but sits geometrically in cluster B — the in-plan
    // Lloyd step must move it, after which it near-dups with 5 and 6.
    // Had blocking stayed on raw labels (d05's shape), 4 would pair
    // with nothing: cos(4, everything in A) < 0.35.
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.02f)),  // A
      (2L, 0, Array(1.0f, 0.03f)),  // A
      (3L, 0, Array(0.9f, -0.4f)),  // A
      (4L, 0, Array(0.05f, 1.0f)),  // geometrically B, mislabeled A
      (5L, 1, Array(0.0f, 1.0f)),   // B
      (6L, 1, Array(-1.0f, 0.9f))   // B
    ).toDF("vec_id", "label", "embedding")
    val got = DedupQueries.semanticDedup(spark, emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byId = got.map(r => r._1 -> r).toMap
    // trained cells: {1,2,3} → A, {4,5,6} → B (4 reassigned)
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct.size == 1)
    assert(Seq(4L, 5L, 6L).map(byId(_)._2).distinct.size == 1)
    assert(byId(1L)._2 != byId(4L)._2)
    // within-cell near-dup groups at θ=0.35: {1,2,3} and {4,5,6},
    // canonical = min id
    assert(got.map(r => (r._1, r._3, r._4, r._5)).toSeq.sorted == Seq(
      (1L, 1L, 3L, 1L), (2L, 1L, 3L, 0L), (3L, 1L, 3L, 0L),
      (4L, 4L, 3L, 1L), (5L, 4L, 3L, 0L), (6L, 4L, 3L, 0L)))
  }

  test("d14 scrub keeps untouched docs whole and drops fully-" +
      "duplicated docs' tokens entirely") {
    import spark.implicits._
    val dup = (1 to 10).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (0L, dup),                       // fully duplicated with doc 1
      (1L, dup),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11")  // untouched
    ).toDF("doc_id", "text")
    val scrub = DedupQueries.spanScrub(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 0/1 vanish (all tokens covered); doc 2 fully kept
    assert(scrub.toSeq == Seq((2L, 11L, 11L, 0L)))
  }

  test("d19's scaled-integer LSH tuning tracks the double-precision " +
      "S-curve argmin (datasketch _optimal_param semantics)") {
    // direct double-precision reference: fp = Σ_{s<t} 1-(1-s^r)^b,
    // fn = Σ_{s>=t} (1-s^r)^b on the same s = k/100 grid
    def cost(b: Int, r: Int): Double = (1 to 99).map { k =>
      val s = k / 100.0
      val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
      if (k < 50) p else 1.0 - p
    }.sum
    val cands = for (b <- 1 to 64; r <- 1 to 64 / b) yield (b, r)
    val best = cands.minBy { case (b, r) => (cost(b, r), b, r) }
    // the scaled-integer winner (computed by the same fold the query
    // runs) must be the double-precision winner, and every fold value
    // must sit within one grid-cell of the double curve
    def foldCost(b: Int, r: Int): Long = (1 to 99).map { k =>
      val sr = (1 to r).foldLeft(1000000000L)((acc, _) => acc * k / 100)
      val u = (1 to b).foldLeft(1000000000L)((acc, _) =>
        acc * (1000000000L - sr) / 1000000000L)
      val p = 1000000000L - u
      if (k < 50) p else 1000000000L - p
    }.sum
    val intBest = cands.minBy { case (b, r) => (foldCost(b, r), b, r) }
    assert(intBest == best, s"int $intBest vs double $best")
    cands.foreach { case (b, r) =>
      assert(math.abs(foldCost(b, r) / 1e9 - cost(b, r)) < 0.01,
        s"b=$b r=$r fold drifted from the double curve")
    }
  }
}
