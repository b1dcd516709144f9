package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over a derived co-occurrence graph — the web-graph
  * quality signals a pretraining pipeline computes at corpus scale
  * (CCNet/Common-Crawl rank hosts by link-graph PageRank; dedup
  * clustering is CC on a similarity graph — d10 already runs that
  * fixpoint; this family adds the counting/ranking side).
  *
  * The graph: parts co-ordered in the same order, edge-sampled by a
  * deterministic hash of the pair (md5 prefix '0' = 1/16) so density
  * stays constant as the corpus scales — without the sample the
  * co-occurrence graph's edge count grows with corpus size while the
  * node count grows with catalog size, and every wedge-based algorithm
  * degrades; the sample is the standard sparsifier (Tsourakakis et al.
  * DOULION 2009: count on a p-sampled graph, scale by 1/p³ — the
  * estimator column in g01).
  *
  * Scale shapes:
  *  - edge derivation: the self-join is ORDER-local (equi-join on
  *    l_orderkey, ≤ C(12,2)=66 pairs per order) — no corpus-wide blowup;
  *  - g01 triangles: degree orientation (count each triangle once at
  *    its smallest-degree vertex) bounds wedge generation by
  *    Σ min-deg² ≈ m·√m instead of Σ deg² — the standard trick that
  *    makes distributed triangle counting survive skewed degrees
  *    (Suri & Vassilvitskii 2011);
  *  - g02 PageRank: each iteration is one equi-join (ranks ⋈ edges on
  *    src) + one shuffle (groupBy dst) — the rank table is |V| rows,
  *    never the corpus; integer (micro-unit) arithmetic makes the
  *    fixed-iteration result hash-comparable across engines;
  *  - g03 common neighbors: wedges grouped per endpoint pair, existing
  *    edges anti-joined away, top-k by per-partition heap.
  */
object GraphQueries {

  /** Undirected sampled edge set (u < v by id), one row per edge.
    * The hash sample runs BEFORE the distinct: it is a per-pair-value
    * predicate, so the result is identical, but the dedup shuffle then
    * carries 1/16th of the pair occurrences — at corpus scale the
    * sample predicate is the thing that keeps edge derivation from
    * shuffling every co-occurrence. */
  private def edgesFresh(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val a = l.toDF("ok", "u")
    val b = l.toDF("ok", "v")
    a.join(b, Seq("ok"))
      .filter(col("u") < col("v"))
      .filter(substring(md5(concat(col("u").cast(StringType), lit("-"),
        col("v").cast(StringType)).cast(BinaryType)), 1, 1) === "0")
      .select(col("u"), col("v")).distinct()
  }

  /** Session-scoped derived edge table, shared by g01/g02/g03 — the
    * same pattern as DedupQueries' d10→d12 label table: a production
    * pipeline derives the graph ONCE (it is a persisted intermediate
    * between the co-occurrence scan and every downstream graph
    * algorithm), so the engine mirrors that by localCheckpointing the
    * first derivation per (session, sfDir) and reusing it. g01 always
    * computes fresh and publishes (its bench number honestly carries
    * the derivation cost); g02/g03 consume the published table when
    * present. The table is pinned in [[graft.Resources]] until the
    * session closes. */
  private def edgesPublishing(s: SparkSession, d: String): DataFrame =
    graft.Resources.publish(s, s"g01.edges:$d",
      edgesFresh(s, d).localCheckpoint())(graft.Resources.unpersistCheckpoint)

  private def edgesShared(s: SparkSession, d: String): DataFrame =
    graft.Resources.shared(s, s"g01.edges:$d")(
      edgesFresh(s, d).localCheckpoint())(graft.Resources.unpersistCheckpoint)

  private val edgesSql =
    """edges AS (
      |  SELECT u, v FROM (
      |    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |    WHERE a.l_partkey < b.l_partkey)
      |  WHERE substring(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR)), 1, 1) = '0'),
      |adj AS (
      |  SELECT u AS x, v AS y FROM edges UNION ALL SELECT v AS x, u AS y FROM edges),
      |deg AS (SELECT x AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY x)""".stripMargin

  /** Both directions of [[edges]]. */
  private def adj(e: DataFrame): DataFrame =
    e.select(col("u").as("x"), col("v").as("y"))
      .union(e.select(col("v").as("x"), col("u").as("y")))

  private def degrees(e: DataFrame): DataFrame =
    adj(e).groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))

  // ---- g01: triangle count (degree-ordered orientation) -------------------
  // Orient every edge from its (deg, id)-smaller endpoint to the larger;
  // each triangle then has exactly one vertex with two outgoing edges,
  // so counting (u→v, u→w, v→w) with v ≺ w counts each triangle once,
  // and out-degrees are bounded by O(√m) — the skew-proof wedge bound.
  private def g01(s: SparkSession, d: String): DataFrame = {
    val e = edgesPublishing(s, d)
    val deg = degrees(e)
    // oriented edge (src → dst) with the dst's (deg,id) rank carried for
    // the wedge comparison.
    val oriented = adj(e)
      .join(deg.toDF("x", "xdeg"), "x")
      .join(deg.toDF("y", "ydeg"), "y")
      .filter(col("xdeg") < col("ydeg") ||
        (col("xdeg") === col("ydeg") && col("x") < col("y")))
      .select(col("x").as("src"), col("y").as("dst"),
        col("ydeg").as("ddeg"))
    val o1 = oriented.toDF("src", "v", "vdeg")
    val o2 = oriented.toDF("src", "w", "wdeg")
    val wedges = o1.join(o2, "src")
      .filter(col("vdeg") < col("wdeg") ||
        (col("vdeg") === col("wdeg") && col("v") < col("w")))
      .select(col("v"), col("w"))
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val counts = wedges.join(closing, Seq("v", "w"))
      .agg(count(lit(1)).cast(LongType).as("triangles"))
    val sizes = e.agg(count(lit(1)).cast(LongType).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).cast(LongType).as("n_nodes"))
    SketchQueries.zipOne(counts, sizes, nodes)
      .select(col("triangles"), col("n_edges"), col("n_nodes"),
        // DOULION estimator: triangles of the UNsampled graph ≈ t/p³.
        (col("triangles") * lit(4096)).cast(LongType).as("est_unsampled"))
  }

  private val g01Sql =
    s"""WITH $edgesSql,
       |oriented AS (
       |  SELECT a.x AS src, a.y AS dst, dd.deg AS ddeg
       |  FROM adj a JOIN deg ds ON a.x = ds.node JOIN deg dd ON a.y = dd.node
       |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND a.x < a.y)),
       |wedges AS (
       |  SELECT o1.dst AS v, o2.dst AS w
       |  FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
       |  WHERE o1.ddeg < o2.ddeg OR (o1.ddeg = o2.ddeg AND o1.dst < o2.dst)),
       |tri AS (
       |  SELECT CAST(count(*) AS BIGINT) AS triangles
       |  FROM wedges JOIN oriented ON wedges.v = oriented.src AND wedges.w = oriented.dst),
       |sz AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT triangles, n_edges, n_nodes,
       |  CAST(triangles * 4096 AS BIGINT) AS est_unsampled
       |FROM tri, sz, nd""".stripMargin

  // ---- g02: PageRank (3 iterations, exact integer micro-units) ------------
  // Total mass 10^12 micro-units; teleport and damping in integer
  // arithmetic ((x*85) DIV 100, contributions rank DIV deg) so the
  // fixed-iteration result is bit-identical across engines — the
  // floor-truncation "leak" is ≤ deg micro-units per node per round,
  // i.e. ~1e-9 relative, and identically defined on both sides.
  // Every node of the undirected graph has deg ≥ 1: no dangling mass.
  private val PrTotal = 1000000000000L

  private def g02(s: SparkSession, d: String): DataFrame = {
    val e = edgesShared(s, d)
    val deg = degrees(e) // node, deg
    val n = deg.agg(count(lit(1)).as("n")).withColumn("j", lit(1))
    var ranks = deg.withColumn("j", lit(1)).join(broadcast(n), "j")
      .select(col("node"), col("deg"),
        expr(s"CAST($PrTotal DIV n AS BIGINT)").as("r"),
        expr(s"CAST((($PrTotal DIV n) * 15) DIV 100 AS BIGINT)").as("tp"))
    for (_ <- 1 to 3) {
      // fresh adjacency lineage per iteration (fresh expression ids),
      // so the unrolled plan never self-joins identical attributes.
      val a = adj(e)
      val contrib = ranks
        .join(a, ranks("node") === a("x"))
        .select(a("y").as("node"), expr("CAST(r DIV deg AS BIGINT)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inbound"))
      ranks = ranks.drop("r")
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("deg"), col("tp"),
          (col("tp") + expr(
            "CAST((coalesce(inbound, CAST(0 AS BIGINT)) * 85) DIV 100 AS BIGINT)"))
            .cast(LongType).as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("node"))
      .limit(20)
  }

  private val g02Sql = {
    def iter(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT r.node, r.deg, r.tp,
         |    r.tp + COALESCE(c.inbound, 0) * 85 // 100 AS r
         |  FROM base r LEFT JOIN (
         |    SELECT a.y AS node, SUM(p.r // p.deg) AS inbound
         |    FROM $prev p JOIN adj a ON p.node = a.x GROUP BY a.y) c
         |  ON r.node = c.node)""".stripMargin
    s"""WITH $edgesSql,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |base AS (
       |  SELECT node, deg, 1000000000000 // n AS r,
       |    (1000000000000 // n) * 15 // 100 AS tp
       |  FROM deg, nn),
       |${iter("base", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")}
       |SELECT node, CAST(r AS BIGINT) AS rank_micro
       |FROM it3 ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin
  }

  // ---- g03: common-neighbor link prediction -------------------------------
  // For part pairs NOT already co-ordered (in the sampled graph), rank
  // by common-neighbor count — the basic link-prediction / related-item
  // signal. Wedges (u,v),(u,w) from the full adjacency (every common
  // neighbor counts once), grouped per (v,w), existing edges
  // anti-joined, top-20 via TakeOrderedAndProject.
  private def g03(s: SparkSession, d: String): DataFrame = {
    val e = edgesShared(s, d)
    val a1 = adj(e).toDF("x", "v")
    val a2 = adj(e).toDF("x", "w")
    val wedges = a1.join(a2, "x").filter(col("v") < col("w"))
      .groupBy(col("v").as("pa"), col("w").as("pb"))
      .agg(count(lit(1)).as("common"))
    wedges.join(e, wedges("pa") === e("u") && wedges("pb") === e("v"),
        "left_anti")
      .select(col("pa"), col("pb"), col("common").cast(LongType).as("common"))
      .orderBy(col("common").desc, col("pa"), col("pb"))
      .limit(20)
  }

  private val g03Sql =
    s"""WITH $edgesSql,
       |wedges AS (
       |  SELECT a1.y AS pa, a2.y AS pb, CAST(count(*) AS BIGINT) AS common
       |  FROM adj a1 JOIN adj a2 ON a1.x = a2.x
       |  WHERE a1.y < a2.y GROUP BY a1.y, a2.y)
       |SELECT pa, pb, common FROM wedges
       |WHERE NOT EXISTS (SELECT 1 FROM edges WHERE edges.u = wedges.pa AND edges.v = wedges.pb)
       |ORDER BY common DESC, pa, pb LIMIT 20""".stripMargin

  // ---- g04: label propagation communities (3 synchronous rounds) ----------
  // Raghavan et al. 2007, made deterministic: every node starts as its
  // own label; each synchronous round every node adopts the label most
  // frequent among its NEIGHBORS, ties broken by smallest label — both
  // rules order-independent, so the fixed-iteration result is
  // bit-identical across engines (the classic async LPA is
  // visit-order-dependent and could never sit under a cross-engine
  // hash). Communities = label groups after round 3; output the 20
  // largest. The web/dedup use: cheap community structure over the
  // co-occurrence graph (host clustering, topic grouping) without the
  // modularity machinery.
  //
  // Scale shape per round: labels ⋈ adj on the node side (|E| rows,
  // equi-join), count per (node, label) — partial agg collapses
  // before the shuffle — then one argmax per node via max(struct):
  // two shuffles of at most |E| rows per round, the label table is
  // |V| rows, and rounds are a fixed constant. Same iteration shape
  // as g02's rank walk; rides the session-shared edge table.
  private def g04(s: SparkSession, d: String): DataFrame = {
    val e = edgesShared(s, d)
    var labels = degrees(e).select(col("node"), col("node").as("label"))
    for (_ <- 1 to 3) {
      val a = adj(e) // fresh lineage per round (see g02)
      labels = labels
        .join(a, labels("node") === a("y"))
        .select(a("x").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        // argmax: highest count, then smallest label (-label maximal)
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels.groupBy(col("label"))
      .agg(count(lit(1)).cast(LongType).as("size"))
      .orderBy(col("size").desc, col("label")).limit(20)
      .select(col("label").cast(LongType).as("community"), col("size"))
  }

  private val g04Sql = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, label FROM (
         |    SELECT a.x AS node, p.label AS label,
         |      row_number() OVER (PARTITION BY a.x
         |        ORDER BY count(*) DESC, p.label) AS rn
         |    FROM $prev p JOIN adj a ON p.node = a.y
         |    GROUP BY a.x, p.label)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH $edgesSql,
       |base AS (SELECT node, node AS label FROM deg),
       |${round("base", "lp1")},
       |${round("lp1", "lp2")},
       |${round("lp2", "lp3")}
       |SELECT CAST(label AS BIGINT) AS community,
       |  CAST(count(*) AS BIGINT) AS size
       |FROM lp3 GROUP BY label ORDER BY size DESC, community LIMIT 20""".stripMargin
  }

  // ---- g05: multi-source BFS distances from landmark hubs -----------------
  // Landmark BFS (Potamias et al. 2009 "Fast shortest path distance
  // estimation"): pick the 8 highest-degree nodes as landmarks, run a
  // synchronous multi-source BFS for 4 rounds, and report the distance
  // histogram (how much of the graph is within k hops of a hub) plus
  // the unreached remainder — the coverage/centrality signal web-graph
  // pipelines compute before choosing crawl frontiers or landmark
  // tables. Multi-source = ONE frontier carrying min distance, not 8
  // independent BFS runs.
  //
  // Determinism: landmark choice tie-breaks (deg DESC, node); distance
  // is min over rounds (order-independent); all outputs are exact
  // 64-bit counts/sums. Scale shape per round: frontier ⋈ adj is an
  // equi-join on node (|E| rows max), then ONE min-agg shuffle keyed
  // node over ≤|V| rows; rounds are a fixed constant; the landmark
  // seed set is 8 rows (TakeOrderedAndProject, broadcast). The dist
  // table is |V| rows — never the corpus — exactly g02's walk shape.
  /** FRONTIER multi-source BFS: min distance from any seed within
    * `rounds` hops. `e` is the undirected (u,v) edge set; seeds carry
    * (node, dist=0). Exposed for the direct-model test in GraphSpec.
    *
    * With unit weights a node's min distance IS the round it is first
    * reached, so only nodes first reached in round k−1 can discover
    * anything in round k — each round joins the FRONTIER (the newly
    * reached set) against the adjacency, not the full distance table.
    * On a 100 TB graph with eccentricity 20+ this is the difference
    * between Σ|frontier_k ⋈ adj| (each edge relaxed ~twice total) and
    * rounds × |dist ⋈ adj| (the full re-relax the synchronous
    * formulation pays per round). Result is identical to the
    * synchronous fold; `roundSizes`, when given, receives each
    * round's frontier size (GraphSpec pins that these SHRINK once the
    * high-degree core is absorbed). */
  private[graft] def bfsDistances(e: DataFrame, seeds: DataFrame,
      rounds: Int,
      roundSizes: Option[scala.collection.mutable.Buffer[Long]] = None)
      : DataFrame = {
    var dist = seeds
    var frontier = seeds
    for (k <- 1 to rounds) {
      val a = adj(e) // fresh lineage per round (see g02)
      val cand = frontier
        .join(a, frontier("node") === a("x"))
        .select(a("y").as("node")).distinct()
      // fresh = reached for the first time this round — the next
      // frontier; already-reached candidates have dist < k already.
      // LAZY by default: the unrolled 4-round plan shares each
      // fresh_k's aggregation exchange between its two consumers
      // (dist union, next round's join) via ReuseExchange, exactly
      // like the pre-frontier formulation — one job, no per-round
      // driver actions. Only the instrumented path (roundSizes)
      // materializes per round, because counting forces it anyway.
      val fresh = graft.Resources.checkpoint(
        cand.join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(k.toLong).as("dist")))
      roundSizes.foreach(_ += fresh.count()) // bound check, not a collect
      dist = dist.union(fresh)
      frontier = fresh
    }
    dist
  }

  private def g05(s: SparkSession, d: String): DataFrame = {
    val e = edgesShared(s, d)
    val deg = degrees(e)
    val seeds = deg.orderBy(col("deg").desc, col("node")).limit(8)
      .select(col("node"), lit(0L).as("dist"))
    val dist = bfsDistances(e, seeds, 4)
    val reached = dist
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_node"))
    val unreached = deg.join(dist, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_node"))
      .select(lit(-1L).as("dist"), col("n_nodes"), col("min_node"),
        col("max_node"), col("sum_node"))
    reached.union(unreached)
      .filter(col("n_nodes") > 0)
      .select(col("dist").cast(LongType).as("dist"),
        col("n_nodes").cast(LongType).as("n_nodes"),
        col("min_node").cast(LongType).as("min_node"),
        col("max_node").cast(LongType).as("max_node"),
        col("sum_node").cast(LongType).as("sum_node"))
      .orderBy(col("dist"))
  }

  private val g05Sql = {
    def round(prev: String, out: String, k: Int): String =
      s"""$out AS (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT a.y AS node, $k AS dist
         |    FROM $prev p JOIN adj a ON p.node = a.x)
         |  GROUP BY node)""".stripMargin
    s"""WITH $edgesSql,
       |seeds AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM deg
       |  ORDER BY deg DESC, node LIMIT 8),
       |${round("seeds", "b1", 1)},
       |${round("b1", "b2", 2)},
       |${round("b2", "b3", 3)},
       |${round("b3", "b4", 4)},
       |reached AS (
       |  SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(min(node) AS BIGINT) AS min_node,
       |    CAST(max(node) AS BIGINT) AS max_node,
       |    CAST(sum(node) AS BIGINT) AS sum_node
       |  FROM b4 GROUP BY dist),
       |unreached AS (
       |  SELECT CAST(-1 AS BIGINT) AS dist,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(min(node) AS BIGINT) AS min_node,
       |    CAST(max(node) AS BIGINT) AS max_node,
       |    CAST(sum(node) AS BIGINT) AS sum_node
       |  FROM deg WHERE node NOT IN (SELECT node FROM b4))
       |SELECT * FROM (
       |  SELECT * FROM reached UNION ALL SELECT * FROM unreached)
       |WHERE n_nodes > 0 ORDER BY dist""".stripMargin
  }

  // ---- g06: k-core decomposition (iterative peeling to fixpoint) ----------
  /** Synchronous k-core peeling: repeatedly delete every node whose
    * current degree is < k until no deletion fires (Seidman 1983; the
    * distributed formulation of Batagelj–Zaveršnik). Core membership
    * is the standard graph-density quality signal next to PageRank
    * (g02) and triangles (g01): a node in the 3-core sits in a
    * subgraph where EVERYONE has ≥3 neighbors — link-farm filtering
    * and community-seed selection both threshold on it.
    *
    * Scale shape: each round is one degree aggregate (|adj| rows,
    * map-side combined) plus two LEFT-SEMI joins of the adjacency
    * against the |V|-row survivor table — the corpus-scale frame is
    * only ever filtered, never expanded, and it SHRINKS monotonically
    * (the fixpoint test is an exact row count, the d10 convention:
    * unchanged count ⟺ no deletion, since peeling only removes).
    * Each round localCheckpoints to truncate the O(rounds) lineage.
    * Round count is data-bounded (worst case — a path peeling from
    * the ends — is linear, but co-occurrence graphs peel in a handful
    * of rounds; the oracle unrolls [[KcoreOracleRounds]] rounds and
    * GraphSpec pins that the fixture fixpoint lands well inside it).
    * Returns (surviving adjacency degrees, rounds-to-fixpoint). */
  private[graft] def kcore(e: DataFrame, k: Int): (DataFrame, Int) = {
    var cur = graft.Resources.checkpoint(adj(e))
    var n = cur.count() // 2|E| of the current subgraph, monotone ↓
    var rounds = 0
    var done = n == 0
    while (!done) {
      val keep = cur.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("x").as("node"))
      val nxt = graft.Resources.checkpoint(cur
        .join(keep.select(col("node").as("x")), Seq("x"), "left_semi")
        .join(keep.select(col("node").as("y")), Seq("y"), "left_semi"))
      val m = nxt.count()
      rounds += 1
      done = m == n // no row removed ⟺ no node peeled ⟺ fixpoint
      n = m
      graft.Resources.unpersistCheckpoint(cur)
      cur = nxt
    }
    (cur.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast(LongType).as("core_deg")), rounds)
  }

  /** Peel rounds the g06 oracle unrolls — must be ≥ the fixture's
    * rounds-to-fixpoint at every verified SF (measured: 4/2/4 at
    * sf0.001/0.01/0.1 incl. the no-op confirming round; GraphSpec
    * asserts ≤ half this on the fixture). */
  private[graft] val KcoreOracleRounds = 10

  private def g06(s: SparkSession, d: String): DataFrame = {
    val (core, rounds) = kcore(edgesShared(s, d), 3)
    // The DuckDB oracle unrolls a FIXED round count; a fixture needing
    // more rounds would make the ORACLE wrong and the hash-gate failure
    // would misattribute the bug to the Spark side — fail loudly here.
    require(rounds <= KcoreOracleRounds,
      s"g06: k-core fixpoint took $rounds rounds > the oracle's " +
        s"$KcoreOracleRounds-round unroll (KcoreOracleRounds) — the " +
        "DuckDB oracle SQL is stale for this fixture, raise the unroll")
    core.orderBy(col("node"))
  }

  private val g06Sql = {
    // Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs,
    // and e_{i+1} references e_i three times (directly + via k_i), so
    // an inlined 10-round chain re-derives the base scan 3^10 times
    // (observed: "Too many open files"). Materialization makes the
    // oracle compute each round once — exactly what the Spark side's
    // per-round localCheckpoint does.
    def round(i: Int): String =
      s"""d$i AS MATERIALIZED (
         |  SELECT x AS node, count(*) AS deg FROM e$i GROUP BY x),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT e.x, e.y FROM e$i e
         |  JOIN k$i a ON e.x = a.node JOIN k$i b ON e.y = b.node)""".stripMargin
    s"""WITH $edgesSql,
       |e0 AS MATERIALIZED (SELECT x, y FROM adj),
       |${(0 until KcoreOracleRounds).map(round).mkString(",\n")}
       |SELECT x AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$KcoreOracleRounds GROUP BY x ORDER BY node""".stripMargin
  }

  // ---- g07: weighted SSSP (synchronous Bellman-Ford to fixpoint) ----------
  /** Weighted single-source shortest paths — the weighted counterpart
    * of g05's hop-count BFS: edge cost = 11 − least(cnt, 10) where cnt
    * is the pair's co-occurrence count (strong ties are cheap to
    * traverse, costs integer-exact in [6, 10]), source = the
    * highest-degree hub (ties by node id). FRONTIER Bellman-Ford:
    * each round relaxes only the edges out of the nodes whose
    * distance CHANGED last round (the delta-stepping refinement round
    * 9's synchronous formulation named as its own 100 TB fix), until
    * the frontier empties — an exact fixpoint, distances identical to
    * the full synchronous relax. This is proximity weighted by
    * association strength — the related-item distance a recommender
    * or graph-feature pipeline derives, where a frequent pairing
    * should count as "closer" than a one-off.
    *
    * Scale shape per round: frontier ⋈ wadj is an equi-join on node
    * (≤ Σdeg(frontier) relax rows — total work over ALL rounds is
    * bounded by rounds-to-converge × nothing re-relaxed, vs the
    * synchronous rounds × 2|E|), then one min-agg shuffle keyed node
    * and one anti-join merge into the |V|-row distance table — the
    * corpus never re-enters after the weighted adjacency is derived
    * once (localCheckpoint, reused every round; lineage stays O(1)
    * per round). Fixpoint detection is structural: an empty frontier
    * ⟺ no distance changed ⟺ done (GraphSpec pins that frontier
    * sizes shrink once the hub core is absorbed, and that distances
    * equal a direct Dijkstra). Round count is data-bounded by the max
    * EDGE count of any shortest path (measured 6/7/8 at
    * sf0.001/0.01/0.1 incl. the confirming empty round — growing
    * roughly with hop eccentricity, not size). Oracle: the FULL
    * synchronous relaxation unrolled [[SsspOracleRounds]]
    * materialized rounds (g06's convention — equivalent at the
    * fixpoint; GraphSpec pins fixture fixpoint ≤ half). */
  private def weightedAdj(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
    val a = l.toDF("ok", "u")
    val b = l.toDF("ok", "v")
    val w = a.join(b, Seq("ok"))
      .filter(col("u") < col("v"))
      .filter(substring(md5(concat(col("u").cast(StringType), lit("-"),
        col("v").cast(StringType)).cast(BinaryType)), 1, 1) === "0")
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cost", lit(11L) - least(col("cnt"), lit(10L)))
    w.select(col("u").as("x"), col("v").as("y"), col("cost"))
      .union(w.select(col("v").as("x"), col("u").as("y"), col("cost")))
  }

  /** FRONTIER Bellman-Ford (delta-relaxation) to fixpoint; returns
    * (node → dist table, rounds incl. the confirming empty-frontier
    * round). Exposed for GraphSpec's direct-Dijkstra cross-model
    * check; `roundSizes`, when given, receives each round's frontier
    * size.
    *
    * Each round relaxes only the FRONTIER — the nodes whose distance
    * changed last round — against the adjacency: a relaxation through
    * an unchanged node was already applied in an earlier round, so
    * the frontier join produces every improvement the synchronous
    * full relax would, at Σ|frontier ⋈ adj| cost instead of
    * rounds × 2|E|. On a 100 TB graph with eccentricity 20+ that is
    * the ~20× overpay round 9's synchronous formulation documented as
    * its own refinement; the fixture fixpoint (same rounds, same
    * distances) is unchanged — the oracle hash does not move.
    * Fixpoint detection is now structural: an empty frontier ⟺ no
    * distance changed ⟺ no future round can change one. */
  private[graft] def sssp(s: SparkSession, d: String,
      roundSizes: Option[scala.collection.mutable.Buffer[Long]] = None)
      : (DataFrame, Int) = {
    val wadj = graft.Resources.checkpoint(weightedAdj(s, d))
    val seed = degrees(edgesShared(s, d))
      .orderBy(col("deg").desc, col("node")).limit(1)
      .select(col("node"), lit(0L).as("dist"))
    // ONE materialization per round (the pre-frontier formulation's
    // budget): `merged` = full-outer of the distance table against
    // this round's relax minima, carrying (node, old, cand). The next
    // distance table, the next frontier, AND the termination count are
    // all cheap projections/filters of that one checkpointed frame —
    // no second checkpoint, no recompute of the relax join.
    // old = NULL marks the seed as newly-discovered → round 1's
    // frontier is exactly the seed
    var merged = graft.Resources.checkpoint(seed
      .select(col("node"), lit(null).cast("long").as("old"),
        col("dist").as("cand")))
    def distOf(m: DataFrame): DataFrame =
      m.select(col("node"),
        when(col("old").isNull, col("cand"))
          .when(col("cand").isNull, col("old"))
          .otherwise(least(col("old"), col("cand"))).as("dist"))
    def frontierOf(m: DataFrame): DataFrame =
      m.filter(col("cand").isNotNull &&
          (col("old").isNull || col("cand") < col("old")))
        .select(col("node"), col("cand").as("dist"))
    var rounds = 0
    var live = true
    while (live) {
      val dist = distOf(merged)
      val frontier = frontierOf(merged)
      val relax = frontier.join(wadj, frontier("node") === wadj("x"))
        .select(wadj("y").as("node"),
          (frontier("dist") + wadj("cost")).as("dist"))
      val best = relax.groupBy(col("node")).agg(min(col("dist")).as("cand"))
      val nxt = graft.Resources.checkpoint(dist.toDF("dnode", "old")
        .join(best, col("dnode") === best("node"), "full_outer")
        .select(coalesce(col("dnode"), best("node")).as("node"),
          col("old"), col("cand")))
      // frontier bound (1-row-style check over the checkpointed frame)
      val n = frontierOf(nxt).count()
      roundSizes.foreach(_ += n)
      rounds += 1
      live = n > 0
      graft.Resources.unpersistCheckpoint(merged)
      merged = nxt
    }
    (distOf(merged), rounds)
  }

  /** Relax rounds the g07 oracle unrolls — must be ≥ the fixture's
    * rounds-to-fixpoint at every verified SF (measured 6/7/8 at
    * sf0.001/0.01/0.1; GraphSpec asserts ≤ half this on the sf0.001
    * fixture). */
  private[graft] val SsspOracleRounds = 14

  private def g07(s: SparkSession, d: String): DataFrame = {
    val (dist, rounds) = sssp(s, d)
    // Same stale-oracle guard as g06: the unrolled oracle must cover
    // the measured rounds-to-fixpoint, else the oracle itself is wrong.
    require(rounds <= SsspOracleRounds,
      s"g07: SSSP fixpoint took $rounds rounds > the oracle's " +
        s"$SsspOracleRounds-round unroll (SsspOracleRounds) — the " +
        "DuckDB oracle SQL is stale for this fixture, raise the unroll")
    val deg = degrees(edgesShared(s, d))
    val reached = dist
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_node"))
    val unreached = deg.join(dist, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"),
        max(col("node")).as("max_node"), sum(col("node")).as("sum_node"))
      .select(lit(-1L).as("dist"), col("n_nodes"), col("min_node"),
        col("max_node"), col("sum_node"))
    reached.union(unreached)
      .filter(col("n_nodes") > 0)
      .select(col("dist").cast(LongType).as("dist"),
        col("n_nodes").cast(LongType).as("n_nodes"),
        col("min_node").cast(LongType).as("min_node"),
        col("max_node").cast(LongType).as("max_node"),
        col("sum_node").cast(LongType).as("sum_node"))
      .orderBy(col("dist"))
  }

  private val g07Sql = {
    // Materialized per-round CTEs for the g06 reason: s_{i+1} references
    // s_i twice and an inlined chain would re-derive the base scan
    // exponentially.
    def round(i: Int): String =
      s"""s${i + 1} AS MATERIALIZED (
         |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT node, dist FROM s$i
         |    UNION ALL
         |    SELECT a.y AS node, p.dist + a.cost AS dist
         |    FROM s$i p JOIN wadj a ON p.node = a.x)
         |  GROUP BY node)""".stripMargin
    s"""WITH $edgesSql,
       |wedges AS MATERIALIZED (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v
       |    FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
       |    WHERE a.l_partkey < b.l_partkey)
       |  WHERE substring(md5(CAST(u AS VARCHAR) || '-' || CAST(v AS VARCHAR)), 1, 1) = '0'
       |  GROUP BY u, v),
       |wadj AS MATERIALIZED (
       |  SELECT u AS x, v AS y, 11 - LEAST(cnt, 10) AS cost FROM wedges
       |  UNION ALL
       |  SELECT v AS x, u AS y, 11 - LEAST(cnt, 10) AS cost FROM wedges),
       |s0 AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM deg
       |  ORDER BY deg DESC, node LIMIT 1),
       |${(0 until SsspOracleRounds).map(round).mkString(",\n")},
       |reached AS (
       |  SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(min(node) AS BIGINT) AS min_node,
       |    CAST(max(node) AS BIGINT) AS max_node,
       |    CAST(sum(node) AS BIGINT) AS sum_node
       |  FROM s$SsspOracleRounds GROUP BY dist),
       |unreached AS (
       |  SELECT CAST(-1 AS BIGINT) AS dist,
       |    CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(min(node) AS BIGINT) AS min_node,
       |    CAST(max(node) AS BIGINT) AS max_node,
       |    CAST(sum(node) AS BIGINT) AS sum_node
       |  FROM deg WHERE node NOT IN (SELECT node FROM s$SsspOracleRounds))
       |SELECT * FROM (
       |  SELECT * FROM reached UNION ALL SELECT * FROM unreached)
       |WHERE n_nodes > 0 ORDER BY dist""".stripMargin
  }

  // ---- g08: HyperBall — the neighborhood function by HLL registers --------
  /** HyperBall (Boldi, Rosa & Vigna 2011): per-vertex HyperLogLog
    * counters over growing balls — registers(v, t) = max-merge of the
    * neighbours' registers(·, t−1) — give |B(v, t)| estimates and so
    * the graph's NEIGHBORHOOD FUNCTION N(t) = Σ_v |B(v,t)| and
    * effective diameter WITHOUT any per-vertex BFS: the whole
    * iteration is one equi-join + one max-groupBy per round over a
    * |V|·m register table. This is the composition of the engine's
    * two verified primitives — k02's deterministic integer HLL (m=16
    * here: bucket = first md5 hex char, rank from the next 32 bits)
    * and the g02/g05 adjacency-join round — and the standard way
    * distance distributions are computed on web-scale graphs (the
    * algorithm behind the Facebook "four degrees" measurement).
    * Determinism: registers are pure maxima over md5 ranks
    * (order-independent, map-side combining); N(t) sums per-vertex
    * FLOOR'd estimates (exact BIGINT); the effective-diameter rule is
    * the integer comparison 10·N(t) ≥ 9·N(T). The Spark side detects
    * the register fixpoint (an anti-join count — a bound check, not a
    * data collect) and stops joining early, padding the remaining
    * rounds with the saturated estimate; the oracle's fixed unroll
    * computes the same tables, which by fixpoint-ness agree.
    * Scale: state is |V|·m ≤ 16|V| rows regardless of ball sizes (the
    * entire point of HyperBall vs exact BFS products); each round is
    * adjacency ⋈ registers, the g05 shape; localCheckpoint keeps
    * lineage O(1). */
  /** Ball radius T both the runtime loop and the DuckDB oracle unroll.
    * Must cover rounds-to-fixpoint at every verified SF (measured
    * deltas: sf0.1 reaches 14 changed vertices at round 8 and zero by
    * round 10 — 11 leaves a confirming round of headroom; sf0.01/0.001
    * fix earlier). Past the fixpoint the Spark side skips the join and
    * pads rows from the saturated frame, so extra unroll is nearly
    * free at small SFs; the runtime `require(fixed, …)` fails loudly
    * if a future fixture outgrows this. */
  private[graft] val HbRounds = 11
  private val HbRankSql =
    """CASE WHEN length(regexp_extract(substring(h, 2, 8), '^0*', 0)) = 8 THEN 33
      |  ELSE length(regexp_extract(substring(h, 2, 8), '^0*', 0)) * 4
      |    + (CASE substring(substring(h, 2, 8),
      |          length(regexp_extract(substring(h, 2, 8), '^0*', 0)) + 1, 1)
      |        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
      |        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
      |        ELSE 0 END) + 1 END""".stripMargin

  /** Register count m — the first md5 hex char picks the bucket. */
  private val HbM = 16

  /** α₁₆·m²·2³³ scaled ×1000: 0.673·256·2³³ = 673·2⁴¹ ≈ 1.48e15.
    * With s_total ≤ 16·2³³, both the numerator and 40000·s_total stay
    * far inside BIGINT — the whole readout is exact integer
    * arithmetic (the k02/d19 house pattern), so the per-vertex floors
    * are literally the SAME integers on Spark and DuckDB regardless
    * of libm or literal-typing differences (double literals on Spark
    * vs decimal literals on DuckDB diverged at a floor boundary in
    * round 10 — the registry's only red row). */
  private[graft] val HbNum: Long = 673L * 2199023255552L

  /** Linear-counting branch floor(16·ln(16/z)) precomputed for its
    * complete input domain z ∈ 1..15 (after the seed round every
    * vertex owns ≥ 1 register, so zeros ≤ 15; zeros = 0 takes the raw
    * branch) — a 15-entry integer lookup replaces the only remaining
    * libm call. GraphSpec pins each entry against math.log. */
  private[graft] val HbLinearCount: Seq[Long] =
    Seq(44L, 33L, 26L, 22L, 18L, 15L, 13L, 11L, 9L, 7L, 5L, 4L, 3L, 2L, 1L)

  private[graft] def hbLinearCountCaseSql(zCol: String): String =
    s"CASE $zCol " + HbLinearCount.zipWithIndex.map { case (v, i) =>
      s"WHEN ${i + 1} THEN $v" }.mkString(" ") + " END"

  /** Per-vertex HLL estimate (m=16, α=0.673) then Σ over vertices —
    * shared by every round's readout. Registers arrive WIDE (one row
    * per vertex, columns r0..r15, NULL = empty register), so the
    * per-vertex stage is ROW-LOCAL — no groupBy, no shuffle; the only
    * exchange is the final 1-row sum. floor(raw) is BIGINT division
    * ([[HbNum]] DIV 1000·s_total), the small-range guard raw ≤ 40 is
    * the integer comparison [[HbNum]] ≤ 40000·s_total, and linear
    * counting is the [[HbLinearCount]] lookup — no float touches any
    * per-vertex estimate, so the floors cannot sit on a
    * representation-dependent boundary on either engine. */
  private def hbEstimate(regs: DataFrame, t: Int): DataFrame = {
    val present = (0 until HbM).map(i =>
      when(col(s"r$i").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    val sPresent = (0 until HbM).map(i =>
      coalesce(expr(s"shiftleft(CAST(1 AS BIGINT), 33 - r$i)"), lit(0L)))
      .reduce(_ + _)
    regs
      .select(present.as("present"), sPresent.as("s_present"))
      .select((lit(16L) - col("present")).as("zeros"),
        (col("s_present") +
          (lit(16L) - col("present")) * lit(8589934592L)).as("s_total"))
      .select(when(col("zeros") > 0 &&
            lit(HbNum) <= lit(40000L) * col("s_total"),
          element_at(lit(HbLinearCount.toArray),
            col("zeros").cast(IntegerType)))
        .otherwise(expr(s"$HbNum DIV (1000 * s_total)")).as("est"))
      .agg(sum(col("est")).as("nf"))
      .select(lit(t.toLong).as("t"), col("nf"))
  }

  /** SYSTOLIC HyperBall rounds (Boldi–Rosa–Vigna §4.2's signal
    * propagation, the same delta discipline as [[sssp]]): each round
    * propagates only the vertices whose registers CHANGED last round.
    * A register is a monotone max, so a neighbour's unchanged vector
    * was already merged the round it last changed — re-sending it can
    * never raise anything. Per-round registers are therefore
    * elementwise IDENTICAL to the synchronous full re-join (every
    * value reaches each neighbour exactly one round after it first
    * appears, as in the sync schedule), so the per-round estimates
    * and the oracle hash do not move; what changes is the join cost:
    * adjacency ⋈ changed-vertices instead of adjacency ⋈ all |V|
    * register vectors, with the delta collapsing toward the few
    * still-spreading high ranks once the ball radius passes the
    * graph's effective diameter (GraphSpec pins the shrink). Register
    * vectors travel WIDE — m=16 int columns, one row per vertex — so
    * a round shuffles |edges-from-changed| rows, not 16× that, the
    * merge is one groupBy(v) of elementwise maxima (NULL-skipping
    * max), and the estimate readouts are row-local. One
    * materialization per round (the g07 budget): `merged` =
    * full-outer of the register table against this round's propagated
    * maxima, carrying (v, old0..15, cand0..15); the next registers,
    * the next delta, AND the fixpoint count are projections of that
    * one checkpointed frame. `roundSizes`, when given, receives each
    * round's changed-vertex count. */
  private[graft] def hyperball(s: SparkSession, d: String,
      roundSizes: Option[scala.collection.mutable.Buffer[Long]] = None)
      : DataFrame =
    hyperballOn(adj(edgesShared(s, d)), roundSizes)

  /** [[hyperball]] over an explicit adjacency frame (cols x, y, both
    * directions present) — lets GraphSpec drive the fixpoint assert
    * with a path longer than the unroll. */
  private[graft] def hyperballOn(adjDf: DataFrame,
      roundSizes: Option[scala.collection.mutable.Buffer[Long]] = None)
      : DataFrame = {
    val ad = graft.Resources.checkpoint(adjDf)
    val nodes = ad.select(col("x").as("v")).distinct()
    // WIDE register layout: ONE row per vertex, old0..old15 = the
    // registers before this round (NULL = empty), cand0..cand15 = the
    // maxima that arrived this round (NULL = nothing arrived). A
    // vertex is in the delta iff ANY candidate beats its old register;
    // changed vertices propagate their FULL current vector (max-merge
    // is idempotent, so re-sending unchanged registers alongside the
    // changed one cannot move anything — per-round registers stay
    // elementwise identical to the synchronous schedule). hb0 seeds
    // every vertex's own hash as newly-arrived → round 1's delta is
    // every vertex, like the sync start.
    var merged = graft.Resources.checkpoint(nodes
      .select(col("v"),
        md5(col("v").cast(StringType).cast(BinaryType)).as("h"))
      .select(Seq(col("v"),
          conv(substring(col("h"), 1, 1), 16, 10)
            .cast(IntegerType).as("b"),
          expr(HbRankSql).cast(IntegerType).as("r")): _*)
      .select(col("v") +:
        ((0 until HbM).map(i =>
          lit(null).cast(IntegerType).as(s"old$i")) ++
         (0 until HbM).map(i =>
           when(col("b") === i, col("r")).as(s"cand$i"))): _*))
    def regsOf(m: DataFrame): DataFrame =
      m.select(col("v") +: (0 until HbM).map(i =>
        when(col(s"old$i").isNull, col(s"cand$i"))
          .when(col(s"cand$i").isNull, col(s"old$i"))
          .otherwise(greatest(col(s"old$i"), col(s"cand$i")))
          .as(s"r$i")): _*)
    def changedOf(m: DataFrame): DataFrame =
      m.filter((0 until HbM).map(i =>
        col(s"cand$i").isNotNull &&
          (col(s"old$i").isNull || col(s"cand$i") > col(s"old$i")))
        .reduce(_ || _))
    val rounds = Vector.newBuilder[DataFrame]
    rounds += hbEstimate(regsOf(merged), 0)
    var t = 1
    var fixed = false
    while (t <= HbRounds) {
      if (!fixed) {
        // fresh aliases on BOTH sides: delta and regs share `merged`'s
        // lineage, so dataset-qualified refs would be ambiguous
        val delta = regsOf(changedOf(merged))
          .select(col("v").as("dv") +:
            (0 until HbM).map(i => col(s"r$i").as(s"d$i")): _*)
        val propAggs = (0 until HbM).map(i => max(col(s"d$i")).as(s"p$i"))
        val prop = ad.join(delta, ad("y") === col("dv"))
          .groupBy(ad("x").as("pv"))
          .agg(propAggs.head, propAggs.tail: _*)
        val regsR = regsOf(merged)
          .select(col("v").as("rv") +:
            (0 until HbM).map(i => col(s"r$i").as(s"q$i")): _*)
        val nxt = graft.Resources.checkpoint(
          regsR.join(prop, col("rv") === col("pv"), "full_outer")
            .select(coalesce(col("rv"), col("pv")).as("v") +:
              ((0 until HbM).map(i => col(s"q$i").as(s"old$i")) ++
               (0 until HbM).map(i => col(s"p$i").as(s"cand$i"))): _*))
        // register fixpoint ⇒ every later ball equals this one (a
        // 1-row bound check over the checkpointed frame — not a data
        // collect; an empty delta means no future round can change)
        val n = changedOf(nxt).count()
        roundSizes.foreach(_ += n)
        fixed = n == 0
        merged = nxt
      }
      rounds += hbEstimate(regsOf(merged), t)
      t += 1
    }
    // The saturated N(T), pct, and eff readouts below assume the
    // register fixpoint fired within the unroll — and the DuckDB
    // oracle unrolls exactly HbRounds rounds. A fixture whose balls
    // are still growing at round HbRounds would make the "saturated"
    // denominator silently wrong (the g06/g07 hazard class) — fail
    // loudly naming the unroll instead.
    require(fixed,
      s"g08: HyperBall register fixpoint not reached within $HbRounds " +
        "rounds (HbRounds) — the saturated-N(T) readout and the DuckDB " +
        "oracle's fixed unroll are both stale for this fixture, raise " +
        "HbRounds and the oracle unroll together")
    // saturated N(T) via a window over the T+1-row result — no join
    // (a constant-key join folds to a BNLJ; this table is 9 rows)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    rounds.result().reduce(_ unionByName _)
      .withColumn("nf_sat",
        max(when(col("t") === HbRounds, col("nf"))).over(wAll))
      .select(col("t"), col("nf"),
        (col("nf").cast(DoubleType) * 100.0 /
          col("nf_sat").cast(DoubleType)).as("pct"),
        (col("nf") * 10 >= col("nf_sat") * 9).as("eff"))
      .orderBy(col("t"))
  }

  private def g08(s: SparkSession, d: String): DataFrame = hyperball(s, d)

  private val g08Sql = {
    // MATERIALIZED per-round CTEs — the g06 lesson: DuckDB inlines
    // plain CTEs, and hb_t references hb_{t-1} twice (self + join), so
    // an inlined 8-round chain re-derives the base scan 2^8 times.
    val roundCtes = (1 to HbRounds).map { t =>
      s"""hb$t AS MATERIALIZED (SELECT v, bucket, max(r) AS r FROM (
         |  SELECT v, bucket, r FROM hb${t - 1}
         |  UNION ALL
         |  SELECT a.x AS v, p.bucket, p.r
         |  FROM adj a JOIN hb${t - 1} p ON p.v = a.y) GROUP BY v, bucket)"""
        .stripMargin
    }.mkString(",\n")
    // Estimate readout in EXACT integer arithmetic mirroring
    // hbEstimate: floor(0.673·256·2³³/s_total) = 673·2⁴¹ // 1000·s_total
    // (// is DuckDB's integral floor division, the Spark DIV), the
    // small-range guard is the integer comparison, and the
    // linear-counting branch is the shared 15-entry lookup — the same
    // integers on both engines by construction.
    val estCtes = (0 to HbRounds).map { t =>
      s"""est$t AS MATERIALIZED (SELECT $t AS t,
         |  CAST(SUM(est) AS BIGINT) AS nf FROM (
         |  SELECT CAST(CASE WHEN zeros > 0 AND $HbNum <= 40000 * s_total
         |      THEN ${hbLinearCountCaseSql("zeros")}
         |      ELSE $HbNum // (1000 * s_total) END AS BIGINT) AS est FROM (
         |    SELECT v, 16 - count(*) AS zeros,
         |      SUM((CAST(1 AS BIGINT) << (33 - r)))
         |        + (16 - count(*)) * 8589934592 AS s_total
         |    FROM hb$t GROUP BY v)))""".stripMargin
    }.mkString(",\n")
    val nfUnion = (0 to HbRounds)
      .map(t => s"SELECT t, nf FROM est$t").mkString("\n  UNION ALL\n  ")
    s"""WITH $edgesSql,
       |nodes AS (SELECT DISTINCT x AS v FROM adj),
       |hashed AS (SELECT v, md5(CAST(v AS VARCHAR)) AS h FROM nodes),
       |hb0 AS MATERIALIZED (SELECT v, substring(h, 1, 1) AS bucket,
       |  ${HbRankSql.replace("\n", "\n|  ")} AS r FROM hashed),
       |$roundCtes,
       |$estCtes,
       |nf AS (
       |  $nfUnion),
       |sat AS (SELECT nf AS nf_sat FROM nf WHERE t = $HbRounds)
       |SELECT CAST(nf.t AS BIGINT) AS t, nf.nf,
       |  CAST(nf.nf AS DOUBLE) * 100.0 / CAST(sat.nf_sat AS DOUBLE) AS pct,
       |  nf.nf * 10 >= sat.nf_sat * 9 AS eff
       |FROM nf, sat ORDER BY t""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("g01_triangle_count", g01, Some(g01Sql)),
    Q("g08_hyperball", g08, Some(g08Sql)),
    Q("g02_pagerank", g02, Some(g02Sql)),
    Q("g03_common_neighbors", g03, Some(g03Sql)),
    Q("g04_label_propagation", g04, Some(g04Sql)),
    Q("g05_bfs_landmarks", g05, Some(g05Sql)),
    Q("g06_kcore", g06, Some(g06Sql)),
    Q("g07_sssp", g07, Some(g07Sql)),
  )
}
