package graft

import graft.operators.TextQueries
import org.scalatest.funsuite.AnyFunSuite

/** t17's distributed BPE trainer against a naive in-memory reference:
  * the greedy left-to-right merge (BPE's one sequential step) must be
  * exactly reproduced by the self-delimiting \x01sym\x02 encoding +
  * plain string replace, and the (freq, a, b) struct argmax must be
  * deterministic under ties. Also pins t16's integer-log2 identity. */
class BpeSpec extends AnyFunSuite with SparkFixture with TempDirs {

  /** Naive reference BPE on a word-frequency dict: symbols as string
    * lists, greedy left-to-right merge, argmax tie-break by
    * lexicographically largest (freq, a, b). */
  private def naiveBpe(words: Map[String, Long], iters: Int)
      : (Seq[(Int, String, String, Long)], Map[String, Long]) = {
    var dict: Map[List[String], Long] =
      words.groupBy(_._1.toList.map(_.toString))
        .map { case (k, v) => k -> v.values.sum }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to iters) {
      val pairs = scala.collection.mutable.Map[(String, String), Long]()
      dict.foreach { case (syms, f) =>
        syms.zip(syms.drop(1)).foreach { p =>
          pairs(p) = pairs.getOrElse(p, 0L) + f }
      }
      if (pairs.nonEmpty) {
        val ((a, b), pf) = pairs.maxBy { case ((a, b), f) => (f, a, b) }
        merges += ((it, a, b, pf))
        dict = dict.groupBy { case (syms, _) =>
          // greedy left-to-right merge
          val out = scala.collection.mutable.ListBuffer[String]()
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toList
        }.map { case (k, v) => k -> v.values.sum }
      }
    }
    val vocab = scala.collection.mutable.Map[String, Long]()
    dict.foreach { case (syms, f) =>
      syms.foreach(s => vocab(s) = vocab.getOrElse(s, 0L) + f) }
    (merges.result(), vocab.toMap)
  }

  private def runBpe(texts: Seq[String], iters: Int)
      : (Seq[(Long, String, Long)], Seq[(String, Long)]) = {
    import spark.implicits._
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = TextQueries.bpeTrain(docs, iters).collect()
    val merges = rows.filter(_.getString(0) == "merge")
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    val vocab = rows.filter(_.getString(0) == "vocab")
      .map(r => (r.getString(2), r.getLong(3))).toSeq
    (merges, vocab)
  }

  test("greedy left-to-right: 'aaa' under merge (a,a) becomes [aa, a], " +
      "never [a, aa]") {
    val (merges, _) = runBpe(Seq("aaa aaa"), 2)
    // iter1: (a,a) appears at 2 positions x freq 2 = 4
    // iter2: greedy encoding <aa><a> yields pair (aa,a) freq 2 -- the
    // wrong (non-greedy) <a><aa> encoding would yield (a,aa) instead
    assert(merges == Seq((1L, "a+a", 4L), (2L, "aa+a", 2L)))
  }

  test("argmax tie-break is (freq, a, b) lexicographic max on both " +
      "tied pairs") {
    val (merges, _) = runBpe(Seq("ab ab cd cd"), 1)
    assert(merges == Seq((1L, "c+d", 2L)))
  }

  test("distributed BPE == naive reference on random small-alphabet " +
      "corpora (merges and final vocab)") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 5) {
      val words = (1 to 30).map(_ =>
        (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString)
      val text = words.mkString(" ")
      val freq = words.groupBy(identity).map { case (w, o) =>
        w -> o.size.toLong }
      val (gotM, gotV) = runBpe(Seq(text), 3)
      val (wantM, wantV) = naiveBpe(freq, 3)
      assert(gotM == wantM.map { case (it, a, b, f) =>
        (it.toLong, s"$a+$b", f) }, s"trial $trial merges: corpus=$text")
      // top-20 selection is by (freq desc, sym); emitted order is by sym
      val wantTop = wantV.toSeq.sortBy { case (s, f) => (-f, s) }.take(20)
        .sortBy(_._1)
      assert(gotV == wantTop, s"trial $trial vocab: corpus=$text")
    }
  }

  test("t16 integer-log2 identity: length(bin(k))-1 == floor(log2(k)) " +
      "for all k in 1..65536") {
    (1 to 65536).foreach { k =>
      val viaBin = java.lang.Long.toBinaryString(k.toLong).length - 1
      val viaBits = 63 - java.lang.Long.numberOfLeadingZeros(k.toLong)
      assert(viaBin == viaBits, s"k=$k")
    }
  }

  test("t19 over zero-row tables reports 0, not NULL, at every stage") {
    val sf = "/root/testdata/sf0.001"
    val empty = tempDir("t19-empty").toString
    for (t <- Tables.all)
      spark.read.parquet(s"$sf/$t.parquet").limit(0)
        .write.parquet(s"$empty/$t.parquet")
    val stages = SparkEntry.queries("t19_pretrain_pipeline")(spark, empty)
      .collect().filter(_.getString(0) == "stage")
    assert(stages.map(_.getString(1)).toSeq ==
      Seq("a_quality", "b_dedup", "c_scrub", "d_lm", "e_tokens_kept"))
    for (r <- stages) assert(!r.isNullAt(2) && r.getLong(2) == 0L, r)
  }
}
