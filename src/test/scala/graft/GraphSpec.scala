package graft

import graft.operators.DedupQueries
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Fixpoint connected components (d10 / DedupQueries.connectedComponents)
  * pinned to a union-find model: on random graphs the distributed
  * neighbor-min + pointer-jump loop must assign every node the MINIMUM
  * node id of its component — exactly what union-find computes. The
  * long-chain case (a path graph) is the one a fixed-round unroll
  * (d09's 3 rounds) provably under-merges, so it gets a deterministic
  * test of its own.
  */
class GraphSpec extends AnyFunSuite with SparkFixture {

  /** Union-find with path compression — the sequential model. Returns
    * each edge-endpoint node's component minimum. */
  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => List(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def ccOf(edges: List[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val both = edges ++ edges.map(e => (e._2, e._1))
    val df = both.toDF("src", "dst")
    DedupQueries.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("fixpoint CC == union-find on random graphs") {
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 30)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (a, b))
      if es.nonEmpty
    } yield es
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1),
      Prop.forAll(genEdges) { es => ccOf(es) == unionFind(es) })
    assert(res.passed, res.status.toString)
  }

  test("long chain collapses to one component (the fixed-round failure case)") {
    // Path 0-1-2-…-40: diameter 40. Fixed 3 rounds of neighbor-min
    // leaves the tail mislabeled; the fixpoint loop must converge to a
    // single component labeled 0 (in O(log 40) rounds thanks to the
    // pointer jump, but correctness is what we pin here).
    val chain = (0L until 40L).map(i => (i, i + 1)).toList
    val got = ccOf(chain)
    assert(got.size == 41)
    assert(got.values.toSet == Set(0L), s"all labels must be 0, got ${got.values.toSet}")
    assert(got == unionFind(chain))
  }

  test("disjoint cliques keep distinct minimum labels") {
    val cliqueA = for (i <- 0L to 3L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 12L; j <- (i + 1) to 13L) yield (i, j)
    val got = ccOf((cliqueA ++ cliqueB).toList)
    assert(got.filter(_._1 < 10L).values.toSet == Set(0L))
    assert(got.filter(_._1 >= 10L).values.toSet == Set(10L))
  }

  // ---- g-family (GraphQueries): oriented counting vs brute force ----------

  private val sf = "/root/testdata/sf0.001"

  /** The same sampled co-occurrence edge set g01–g03 derive, as local
    * pairs — small at sf0.001 (a few hundred edges). */
  private def localEdges(): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val a = l.toDF("ok", "u"); val b = l.toDF("ok", "v")
    a.join(b, Seq("ok")).filter(col("u") < col("v"))
      .select(col("u"), col("v")).distinct()
      .filter(substring(md5(concat(col("u").cast("string"), lit("-"),
        col("v").cast("string")).cast("binary")), 1, 1) === "0")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("g01 degree-oriented triangle count == brute-force enumeration") {
    val edges = localEdges()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    val nodes = adj.keys.toSeq.sorted
    var brute = 0L
    for (u <- nodes; v <- adj(u) if v > u; w <- adj(u) if w > v)
      if (adj(v).contains(w)) brute += 1
    val r = SparkEntry.queries("g01_triangle_count")(spark, sf).collect()(0)
    assert(r.getLong(0) == brute, s"oriented=${r.getLong(0)} brute=$brute")
    assert(r.getLong(1) == edges.size.toLong)
  }

  test("g02 integer PageRank: positive descending ranks, each below " +
      "total mass, top node is a max-degree hub") {
    val top = SparkEntry.queries("g02_pagerank")(spark, sf).collect()
    assert(top.length == 20)
    assert(top.forall(_.getLong(1) > 0L))
    assert(top.forall(_.getLong(1) < 1000000000000L))
    val ranks = top.map(_.getLong(1)).toSeq
    assert(ranks == ranks.sorted.reverse)
    // sanity: the top-ranked node should sit in the top decile by
    // degree (PageRank on an undirected graph correlates with degree).
    val edges = localEdges()
    val deg = scala.collection.mutable.Map.empty[Long, Int]
      .withDefaultValue(0)
    edges.foreach { case (u, v) => deg(u) += 1; deg(v) += 1 }
    val cut = deg.values.toSeq.sorted.reverse
      .apply(math.max(0, deg.size / 10 - 1))
    assert(deg(top(0).getLong(0)) >= cut,
      s"top node degree ${deg(top(0).getLong(0))} below decile cut $cut")
  }

  test("g04 unrolled-join LPA == direct synchronous iteration " +
      "(3 rounds, most-frequent neighbor label, min-label ties)") {
    val edges = localEdges()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    val nodes = adj.keys.toSeq.sorted
    var label = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      label = nodes.map { n =>
        val votes = adj(n).toSeq.map(label)
          .groupBy(identity).map { case (l, g) => (l, g.size) }
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val want = label.values.groupBy(identity)
      .map { case (l, g) => (l, g.size.toLong) }
      .toSeq.sortBy { case (l, s) => (-s, l) }.take(20)
    val got = SparkEntry.queries("g04_label_propagation")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  /** Direct sequential peeling — the k-core model: delete degree<k
    * nodes one sweep at a time until stable; order within a sweep
    * can't matter because the sweep is computed from a snapshot. */
  private def kcoreModel(edges: Set[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    var changed = true
    while (changed) {
      val doomed = adj.collect { case (n, nb) if nb.size < k => n }.toSet
      changed = doomed.nonEmpty
      if (changed) {
        adj = adj.collect { case (n, nb) if !doomed(n) =>
          n -> (nb -- doomed) }.withDefaultValue(Set.empty)
        adj = adj.filter(_._2.nonEmpty).withDefaultValue(Set.empty)
      }
    }
    adj.map { case (n, nb) => n -> nb.size }.toMap
  }

  test("g06 distributed peeling == direct k-core model on the fixture " +
      "and on adversarial graphs; fixpoint rounds fit the oracle unroll") {
    import spark.implicits._
    def run(edges: Set[(Long, Long)], k: Int): (Map[Long, Long], Int) = {
      val df = edges.toSeq.toDF("u", "v")
      val (core, rounds) = graft.operators.GraphQueries.kcore(df, k)
      (core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    // the registered fixture graph at k=3
    val fixture = localEdges()
    val (got, rounds) = run(fixture, 3)
    val want = kcoreModel(fixture, 3).map { case (n, d) => n -> d.toLong }
    assert(got == want)
    assert(rounds <= graft.operators.GraphQueries.KcoreOracleRounds / 2,
      s"fixture peels in $rounds rounds; oracle unrolls " +
        s"${graft.operators.GraphQueries.KcoreOracleRounds}")
    // path graph at k=2: the 2-core of a path is EMPTY and peeling
    // cascades from both ends — the many-round worst case.
    val path = (0L until 20L).map(i => (i, i + 1)).toSet
    assert(run(path, 2)._1.isEmpty)
    // cycle at k=2: nothing peels — every node keeps degree 2.
    val cycle = (0L until 12L).map(i => (i, (i + 1) % 12)).toSet
    val (cyc, cycRounds) = run(cycle, 2)
    assert(cyc == (0L until 12L).map(_ -> 2L).toMap)
    assert(cycRounds == 1) // single confirming round
    // clique-with-pendants at k=3: pendants peel, the K5 survives.
    val k5 = (for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)).toSet
    val pend = Set((0L, 90L), (90L, 91L), (1L, 92L))
    val (cp, _) = run(k5 ++ pend, 3)
    assert(cp == (0L to 4L).map(_ -> 4L).toMap)
  }

  test("g07 Bellman-Ford fixpoint == direct Dijkstra on the fixture; " +
      "rounds fit the oracle unroll") {
    import org.apache.spark.sql.functions._
    // local weighted edges: co-occurrence count per sampled pair,
    // cost = 11 - min(cnt, 10) — exactly weightedAdj's derivation
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val a = l.toDF("ok", "u"); val b = l.toDF("ok", "v")
    val wedges = a.join(b, Seq("ok")).filter(col("u") < col("v"))
      .filter(substring(md5(concat(col("u").cast("string"), lit("-"),
        col("v").cast("string")).cast("binary")), 1, 1) === "0")
      .groupBy(col("u"), col("v")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val wadj = scala.collection.mutable.Map
      .empty[Long, List[(Long, Long)]].withDefaultValue(Nil)
    wedges.foreach { case ((u, v), cnt) =>
      val c = 11L - math.min(cnt, 10L)
      wadj(u) = (v, c) :: wadj(u); wadj(v) = (u, c) :: wadj(v) }
    // seed: highest degree, ties by node — g05's landmark rule at k=1
    val seed = wadj.toSeq.map { case (n, as) => (n, as.size) }
      .sortBy { case (n, deg) => (-deg, n) }.head._1
    // direct Dijkstra
    val distM = scala.collection.mutable.Map(seed -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
      Ordering.by { case (c, _) => -c })
    while (pq.nonEmpty) {
      val (c, n) = pq.dequeue()
      if (distM(n) == c)
        wadj(n).foreach { case (m, w) =>
          if (distM.get(m).forall(_ > c + w)) {
            distM(m) = c + w; pq.enqueue((c + w, m)) } }
    }
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    val (distDf, rounds) =
      graft.operators.GraphQueries.sssp(spark, sf, Some(sizes))
    val got = distDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == distM.toMap)
    assert(rounds <= graft.operators.GraphQueries.SsspOracleRounds / 2,
      s"fixture converges in $rounds rounds; oracle unrolls " +
        s"${graft.operators.GraphQueries.SsspOracleRounds}")
    // frontier relax: changed-node counts expand as the ball grows
    // from the seed, then SHRINK strictly to the empty confirming
    // round; total relax candidates stay well under the synchronous
    // formulation's rounds × |V| — the property that makes each round
    // cheaper than a full 2|E| re-relax
    assert(sizes.size == rounds && sizes.last == 0L)
    val peak = sizes.indexOf(sizes.max)
    assert(sizes.drop(peak).zip(sizes.drop(peak + 1)).forall {
      case (a, b) => b < a }, s"frontier must shrink after its peak: $sizes")
    assert(sizes.sum < rounds.toLong * got.size,
      s"frontier work ${sizes.sum} should undercut full relax " +
        s"(${rounds.toLong * got.size}): $sizes")
  }

  test("g05 frontier BFS == direct multi-source BFS; frontier counts " +
      "shrink after the hub hop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = localEdges()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    // g05's landmark rule: 8 highest-degree nodes, ties by id
    val seeds = adj.toSeq.map { case (n, as) => (n, as.size) }
      .sortBy { case (n, deg) => (-deg, n) }.take(8).map(_._1)
    // direct multi-source BFS, 4 rounds
    val distM = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
    var frontier = seeds.toSet
    for (k <- 1 to 4) {
      frontier = frontier.flatMap(adj).filterNot(distM.contains)
      frontier.foreach(distM(_) = k.toLong)
    }
    val eDf = edges.toSeq.toDF("u", "v")
    val seedDf = seeds.toDF("node").select(col("node"),
      lit(0L).as("dist"))
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    val got = graft.operators.GraphQueries
      .bfsDistances(eDf, seedDf, 4, Some(sizes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == distM.toMap)
    // frontier BFS: newly-reached counts shrink once the one-hop
    // neighborhood of the 8 hubs is absorbed (the property that keeps
    // each later round's join smaller than a full dist ⋈ adj)
    assert(sizes.size == 4)
    val peak = sizes.indexOf(sizes.max)
    assert(peak <= 1, s"frontier should peak within 2 rounds: $sizes")
    assert(sizes.drop(peak).zip(sizes.drop(peak + 1)).forall {
      case (a, b) => b < a }, s"frontier must shrink after its peak: $sizes")
  }

  test("g08 HyperBall: N(0) counts singletons EXACTLY (m=16 linear " +
      "counting of one element = 1), N(t) is monotone, the last round " +
      "saturates, and the estimate tracks the true ball sizes") {
    val got = SparkEntry.queries("g08_hyperball")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getBoolean(3))).sortBy(_._1)
    // exact model: balls by direct BFS on the same derived graph
    val edges = localEdges()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val nodes = adj.keySet.toSeq
    // N(0) = |V| exactly: a 1-element HLL at m=16 linear-counts to
    // floor(16·ln(16/15)) = 1 per vertex
    assert(got.head._2 == nodes.size.toLong)
    // monotone neighborhood function; eff flag monotone once set
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"N(t) must not shrink: $a -> $b")
      assert(!a._4 || b._4, "eff flag must be monotone")
    }
    assert(got.last._4 && got.last._3 == 100.0)
    // accuracy envelope: at sf0.001 the graph is one component, so
    // every saturated ball is the SAME set — the per-vertex sketches
    // are identical and nothing averages out. The bound is therefore
    // the single-sketch m=16 envelope (σ = 1.04/√16 ≈ 26%), not a
    // √|V|-reduced one.
    var balls = nodes.map(n => n -> Set(n)).toMap
    (1 to graft.operators.GraphQueries.HbRounds).foreach { _ =>
      balls = balls.map { case (n, b) => n -> (b ++ b.flatMap(adj)) }
    }
    val exact = balls.values.map(_.size.toLong).sum
    val est = got.last._2
    assert(math.abs(est - exact).toDouble / exact < 0.30,
      s"saturated N(T)=$est vs exact $exact")
  }

  test("g08 systolic delta: changed-register counts hit the fixpoint " +
      "with a confirming empty round, shrink after their peak, and " +
      "total propagation undercuts the synchronous rounds x registers " +
      "bound") {
    val sizes = scala.collection.mutable.Buffer.empty[Long]
    // rounds are driven eagerly (per-round checkpoint + delta count)
    val df = graft.operators.GraphQueries.hyperball(spark, sf, Some(sizes))
    val nodes = {
      val edges = localEdges()
      edges.flatMap(e => Set(e._1, e._2)).size
    }
    assert(sizes.nonEmpty && sizes.last == 0L,
      s"fixpoint must be confirmed by an empty delta round: $sizes")
    // vertex-level deltas PLATEAU at |V| while the ball is still
    // expanding everywhere — shrink is required only past the plateau
    val peak = sizes.lastIndexOf(sizes.max)
    assert(sizes.drop(peak).zip(sizes.drop(peak + 1)).forall {
      case (a, b) => b < a }, s"delta must shrink after its peak: $sizes")
    // the synchronous formulation re-joins every vertex's register
    // vector (|V| wide rows) every round; the changed-vertex deltas
    // must strictly undercut that to be worth the reformulation
    assert(sizes.sum < sizes.size.toLong * nodes,
      s"systolic work ${sizes.sum} should undercut sync " +
        s"(${sizes.size.toLong * nodes}): $sizes")
    // and the result must still saturate like the sync version
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.last._2 >= got.head._2 && got.head._2 == nodes.toLong)
  }

  test("g08 linear-counting lookup equals floor(16*ln(16/z)) for every " +
      "z in 1..15 (the branch's complete input domain), and the exact " +
      "integer floor/guard agree with the double formulation off the " +
      "boundary") {
    graft.operators.GraphQueries.HbLinearCount.zipWithIndex.foreach {
      case (v, i) =>
        val z = i + 1
        assert(v == math.floor(16.0 * math.log(16.0 / z)).toLong,
          s"HbLinearCount(z=$z) = $v != floor(16 ln(16/$z))")
    }
    assert(graft.operators.GraphQueries.HbLinearCount.size == 15)
    // integer floor vs double floor on a sweep of s_total values that
    // cannot sit on a representation boundary
    val num = graft.operators.GraphQueries.HbNum
    assert(num == 673L * (1L << 41))
    Seq(16L, 1000L, 123456789L, 8589934592L, 16L * 8589934592L)
      .foreach { st =>
        val exactFloor = num / (1000L * st)
        val dblFloor = math.floor(0.673 * 256.0 * 8589934592.0 / st).toLong
        assert(exactFloor == dblFloor, s"s_total=$st: $exactFloor vs $dblFloor")
        assert((num <= 40000L * st) ==
          (0.673 * 256.0 * 8589934592.0 / st <= 40.0 + 1e-9))
      }
  }

  test("g08 fixpoint assert: a path longer than the unroll fails " +
      "loudly naming HbRounds instead of silently mis-saturating") {
    import spark.implicits._
    // 40-node path: eccentricity 39, and the globally-max rank sits at
    // least 20 hops from one end — registers are still spreading at
    // round HbRounds (11) whatever the hash draw, so the fixpoint
    // cannot fire within the unroll
    val adjDf = (0L until 39L).flatMap(i =>
      Seq((i, i + 1), (i + 1, i))).toDF("x", "y")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.GraphQueries.hyperballOn(adjDf)
    }
    assert(ex.getMessage.contains("HbRounds"))
  }

  test("g03 predicted pairs are non-adjacent and counts match brute force") {
    val edges = localEdges()
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (u, v) =>
      adj(u) = adj(u) + v; adj(v) = adj(v) + u }
    val rows = SparkEntry.queries("g03_common_neighbors")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(!edges.contains((a, b)) && !edges.contains((b, a)),
        s"pair ($a,$b) is already an edge")
      assert(adj(a).intersect(adj(b)).size.toLong == c,
        s"pair ($a,$b): got $c, brute ${adj(a).intersect(adj(b)).size}")
    }
  }
}
