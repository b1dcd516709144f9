package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64
  * dims): brute-force cosine top-k as the exactness baseline, a
  * sign-random-projection LSH bucket path, and an IVF-style coarse
  * quantizer probe — the three standard ANN shapes.
  *
  * Determinism: embeddings quantize to integers (floor(x*1000)) so all
  * dot products are exact 64-bit arithmetic; cosines are doubles
  * computed from identical integers on both engines. Hyperplane
  * coefficients are derived from md5 at plan-build time and inlined as
  * literals into BOTH the Spark plan and the oracle SQL, so the two
  * engines share the exact same planes. IVF centroids stay as integer
  * sums (cosine is scale-invariant, so Σ vectors works as the
  * centroid without a division that would introduce float divergence).
  *
  * Scale design (100 TB of vectors):
  *  - brute force broadcasts the (small) query set and streams the
  *    corpus — one pass, no shuffle of the corpus; per-partition top-k
  *    via the rank window on (query, corpus-partition) then global
  *    top-k, all handled by Spark's window + filter;
  *  - LSH buckets shuffle each vector once to its bucket; pair work is
  *    |bucket|², tunable by plane count;
  *  - IVF probes 2 of |labels| cells → reads ~2/|labels| of the corpus;
  *    at scale the cells are partition keys → partition pruning.
  */
object SimilarityQueries {

  /** Quantized embedding + exact integer squared norm. */
  private def quantized(s: SparkSession, d: String): DataFrame = {
    graft.functions.LongDot.ensureRegistered(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 1000).cast(LongType)).as("q"))
      .withColumn("norm2", graft.functions.LongDot.dot(col("q"), col("q")))
  }

  private val quantizedSql =
    """SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q,
      |    CAST(list_dot_product(
      |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
      |      list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS norm2
      |  FROM embeddings""".stripMargin

  private def cosine(qa: Column, qb: Column, na: Column, nb: Column): Column =
    graft.functions.LongDot.dot(qa, qb).cast(DoubleType) /
      (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  // ---- s01: brute-force cosine top-k ---------------------------------------
  /** Exact top-5 neighbors for the first 10 vectors: broadcast the
    * query side, stream the corpus, rank per query. */
  private def s01(s: SparkSession, d: String): DataFrame = {
    // norm2 > 0 on both sides: a degenerate zero-norm quantized vector
    // would make cosine 0/0 = NaN, and the three sorters involved
    // (Spark window DESC, s08's Ordering.Double.TotalOrdering, DuckDB
    // ORDER BY DESC) place NaN differently — filtering the (senseless)
    // zero vectors keeps the three-way hash agreement NaN-free by
    // construction. Mirrored in the oracle CTE and in s08.
    val v = quantized(s, d).filter(col("norm2") > 0)
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s01Sql =
    s"""WITH v AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM v WHERE vec_id < 25),
       |scored AS (SELECT qid, vec_id,
       |    list_dot_product(qq, q) / (sqrt(qn) * sqrt(norm2)) AS cosine
       |  FROM v CROSS JOIN qs WHERE vec_id <> qid),
       |ranked AS (SELECT qid, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT qid, vec_id AS neighbor, rank, cosine
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- s02: multi-table sign-random-projection LSH -------------------------
  /** L=2 independent hash tables × P=8 hyperplanes each (coefficients
    * from md5, inlined as literals in both engines). 2^P = 256 sign
    * buckets per table keeps pair work ≈ L·n²/2^P — plane count is the
    * knob that caps bucket size (BucketingSpec asserts max-bucket
    * shrinks as P grows), table count is the recall knob (a true
    * neighbor is a candidate if it agrees on ANY table's full sign
    * pattern). Candidates = union over tables of same-bucket pairs,
    * deduped, then exact cosine top-3 per query over candidates only.
    *
    * Scale: each vector is exploded L times and shuffled once per table
    * to its (table, bucket); candidate dedup + the final top-k shuffle
    * by qid. No corpus-wide pair work anywhere. */
  val lshTables = 2
  val lshPlanes = 8

  /** md5-derived hyperplane coefficients — deterministic at plan build,
    * identical literals on both engines. */
  def planeCoeffs(tbl: Int, p: Int): Array[Long] = {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(64) { i =>
      val hex = mdig.digest(s"t${tbl}_p${p}_$i".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  /** Sign-pattern bucket of quantized column `q` for one table. */
  def bucketCol(tbl: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { p =>
      val dot = graft.functions.LongDot.dot(col("q"), typedlit(planeCoeffs(tbl, p).toSeq))
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def s02(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d)
    val b = v.select(col("vec_id"), col("q"), explode(array(
        (0 until lshTables).map(t => struct(lit(t).as("tbl"),
          bucketCol(t, lshPlanes).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("neighbor"))
      .distinct()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("neighbor"))
    cand
      .join(v.select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn")), "qid")
      .join(v.select(col("vec_id").as("neighbor"), col("q").as("nq"), col("norm2").as("nn")), "neighbor")
      .withColumn("cosine", cosine(col("qq"), col("nq"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("neighbor"), col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s02Sql = {
    def planeSql(tbl: Int) = (0 until lshPlanes).map { p =>
      s"(CASE WHEN list_dot_product(q, ${planeCoeffs(tbl, p).mkString("[", ",", "]")}) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val tables = (0 until lshTables).map(t =>
      s"SELECT vec_id, $t AS tbl, CAST(${planeSql(t)} AS BIGINT) AS bucket FROM v")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS ($quantizedSql),
       |b AS ($tables),
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS neighbor
       |  FROM b a JOIN b b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |       AND a.vec_id <> b.vec_id),
       |scored AS (SELECT qid, neighbor,
       |    list_dot_product(va.q, vb.q) / (sqrt(va.norm2) * sqrt(vb.norm2)) AS cosine
       |  FROM cand JOIN v va ON va.vec_id = qid JOIN v vb ON vb.vec_id = neighbor),
       |ranked AS (SELECT qid, neighbor, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT qid, neighbor, rank, cosine
       |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  // ---- s03: IVF-style coarse-quantizer probe -------------------------------
  /** Centroid per label = integer component-wise sum of the cell's
    * vectors (cosine is scale-invariant). Each query (vec_id < 25)
    * probes its 2 nearest centroids, then exact top-5 within those
    * cells only — the read-2-of-k-cells ANN shape. */
  private def s03(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d)
    val cents = v.select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(sum(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        s => s.getField("cx")).as("c"))
      .withColumn("cn", aggregate(zip_with(col("c"), col("c"), _ * _), lit(0L), _ + _))
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("label"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("qq"), col("c"), col("qn"), col("cn")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 2)
      .select(col("qid"), col("qq"), col("qn"), col("label"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    probes.join(v, Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"),
        col("label").cast(LongType).as("label"), col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s03Sql =
    s"""WITH v AS ($quantizedSql),
       |cx AS (SELECT label, i, CAST(SUM(x) AS BIGINT) AS cx FROM (
       |    SELECT label, unnest(q) AS x,
       |           unnest(generate_series(1, len(q))) AS i FROM v)
       |  GROUP BY label, i),
       |cent AS (SELECT label, list(cx ORDER BY i) AS c FROM cx GROUP BY label),
       |centn AS (SELECT label, c, CAST(list_dot_product(c, c) AS BIGINT) AS cn FROM cent),
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM v WHERE vec_id < 25),
       |probes AS (SELECT qid, qq, qn, label FROM (
       |    SELECT qs.qid, qs.qq, qs.qn, centn.label,
       |      row_number() OVER (PARTITION BY qs.qid ORDER BY
       |        list_dot_product(qs.qq, centn.c) / (sqrt(qs.qn) * sqrt(centn.cn)) DESC,
       |        centn.label) AS pr
       |    FROM qs CROSS JOIN centn) WHERE pr <= 2),
       |scored AS (SELECT p.qid, v.vec_id, v.label,
       |    list_dot_product(p.qq, v.q) / (sqrt(p.qn) * sqrt(v.norm2)) AS cosine
       |  FROM probes p JOIN v ON p.label = v.label AND v.vec_id <> p.qid),
       |ranked AS (SELECT qid, vec_id, label, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT qid, vec_id AS neighbor, CAST(label AS BIGINT) AS label, rank, cosine
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- s04: one Lloyd iteration (IVF coarse-quantizer training) ------------
  /** The training step behind s03's index: centroids from the current
    * cells (integer component sums — cosine is scale-invariant, so no
    * float division enters), every vector REASSIGNED to its nearest
    * centroid by cosine (ties to the lowest cell id), then the new
    * per-cell centroid sums. Emits (new_cell, dim) rows with the new
    * centroid component, member count, and how many members moved —
    * the convergence signal a k-means loop monitors.
    *
    * Scale: centroids are k×64 longs → broadcast; the corpus is
    * scanned once for assignment (no shuffle) and shuffled once by
    * (new_cell, dim) carrying (cell, i, partial sums) after map-side
    * combine — the canonical distributed-k-means shape. Iterating =
    * re-running this query with cells := new assignment. */
  private def s04(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d)
    val cents = v.select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(sum(col("x")).as("cx"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        s => s.getField("cx")).as("c"))
      .withColumn("cn",
        aggregate(zip_with(col("c"), col("c"), _ * _), lit(0L), _ + _))
      .select(col("label").as("cl"), col("c"), col("cn"))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cl"))
    v.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("q"), col("c"), col("norm2"), col("cn")))
      .withColumn("r", row_number().over(wA))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("label"), col("cl").as("new_cell"), col("q"))
      .select(col("new_cell"), col("label"),
        posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("new_cell").cast(LongType).as("new_cell"),
        col("i").cast(LongType).as("i"))
      .agg(sum(col("x")).as("centroid_sum"),
        count(lit(1)).as("n_members"),
        sum(when(col("label") =!= col("new_cell"), 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy(col("new_cell"), col("i"))
  }

  private val s04Sql =
    s"""WITH v AS ($quantizedSql),
       |cx AS (SELECT label, i, CAST(SUM(x) AS BIGINT) AS cx FROM (
       |    SELECT label, unnest(q) AS x,
       |           unnest(generate_series(1, len(q))) AS i FROM v)
       |  GROUP BY label, i),
       |cent AS (SELECT label, list(cx ORDER BY i) AS c FROM cx GROUP BY label),
       |centn AS (SELECT label AS cl, c, CAST(list_dot_product(c, c) AS BIGINT) AS cn FROM cent),
       |assigned AS (SELECT vec_id, label, new_cell, q FROM (
       |    SELECT v.vec_id, v.label, centn.cl AS new_cell, v.q,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_dot_product(v.q, centn.c) / (sqrt(v.norm2) * sqrt(centn.cn)) DESC,
       |        centn.cl) AS r
       |    FROM v CROSS JOIN centn) WHERE r = 1),
       |ex AS (SELECT CAST(new_cell AS BIGINT) AS new_cell, label,
       |    unnest(q) AS x, unnest(generate_series(1, len(q))) - 1 AS i
       |  FROM assigned)
       |SELECT new_cell, CAST(i AS BIGINT) AS i,
       |  CAST(sum(x) AS BIGINT) AS centroid_sum,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(CASE WHEN label <> new_cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |FROM ex GROUP BY new_cell, i ORDER BY new_cell, i""".stripMargin

  // ---- s05: product quantization (train sub-codebooks + encode) -----------
  /** PQ — the ANN compression step that makes billion-vector search
    * fit in memory (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011): split each 64-dim vector into
    * M = 4 subspaces of 16 dims; per subspace learn a small codebook
    * (here: the per-label sub-centroid means — one Lloyd half-step,
    * label ≙ initial cluster, consistent with s03/s04); encode every
    * vector as its 4 nearest sub-centroid ids. 64 dims × 4 bytes
    * becomes 4 code bytes (64:1), and an ADC distance table turns
    * kNN into 4 lookups per candidate.
    *
    * Integer exactness: centroids are floor-mean per dim computed as
    * (sum + 1000·n) div n − 1000 — the +1000·n offset makes the
    * numerator non-negative (|x| ≤ 1000 after the ×1000 quantize), so
    * Spark's truncating `div` and DuckDB's floor `//` agree; code
    * assignment is pure integer L2 (argmin, ties → lower label id).
    *
    * Scale: the codebook is labels × M × 16 longs → broadcast; the
    * corpus explodes to (vec, subspace, dim) rows, joins the broadcast
    * codebook, and reduces back — one scan, shuffles keyed by vec_id
    * only. Training sub-centroids is one map-side-combined aggregate. */
  /** (vec_id, label, subspace m, in-subspace dim j, component x). */
  private def pqRows(s: SparkSession, d: String): DataFrame = {
    val subDims = 16
    quantized(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"),
        (col("i") / subDims).cast(IntegerType).as("m"),
        pmod(col("i"), lit(subDims)).as("j"), col("x"))
  }

  /** Per-subspace codebook: (code, m, j, centroid component c). */
  private def pqCodebook(rows: DataFrame): DataFrame =
    rows.groupBy(col("label").as("code"), col("m"), col("j"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      // Long `/` would be double division in Spark — DIV keeps it
      // integral; the non-negative numerator makes truncation = floor
      .select(col("code"), col("m"), col("j"),
        (expr("(sx + 1000 * n) DIV n") - 1000L).as("c"))

  /** Per (vec, subspace): the winning code and its distance. */
  private def pqAssign(rows: DataFrame, codebook: DataFrame): DataFrame = {
    val dists = rows.join(broadcast(codebook), Seq("m", "j"))
      .groupBy(col("vec_id"), col("m"), col("code"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dist"))
    val wBest = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist"), col("code"))
    dists.withColumn("r", row_number().over(wBest)).filter(col("r") === 1)
      .select(col("vec_id"), col("m"), col("code"), col("dist"))
  }

  private def s05(s: SparkSession, d: String): DataFrame = {
    val rows = pqRows(s, d)
    pqAssign(rows, pqCodebook(rows))
      .groupBy(col("vec_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("m"), col("code")))),
          s => s.getField("code").cast(LongType)).as("codes"),
        sum(col("dist")).as("qerr"))
      .select(col("vec_id"),
        element_at(col("codes"), 1).as("code0"),
        element_at(col("codes"), 2).as("code1"),
        element_at(col("codes"), 3).as("code2"),
        element_at(col("codes"), 4).as("code3"),
        col("qerr"))
      .orderBy(col("vec_id"))
  }

  private val s05Sql =
    s"""WITH v AS ($quantizedSql),
       |rows_ AS (SELECT vec_id, label,
       |    (unnest(generate_series(1, len(q))) - 1) // 16 AS m,
       |    (unnest(generate_series(1, len(q))) - 1) % 16 AS j,
       |    unnest(q) AS x
       |  FROM v),
       |cb AS (SELECT label AS code, m, j,
       |    (CAST(sum(x) AS BIGINT) + 1000 * count(*)) // count(*) - 1000 AS c
       |  FROM rows_ GROUP BY label, m, j),
       |dist AS (SELECT r.vec_id, r.m, cb.code,
       |    CAST(sum((r.x - cb.c) * (r.x - cb.c)) AS BIGINT) AS dist
       |  FROM rows_ r JOIN cb ON cb.m = r.m AND cb.j = r.j
       |  GROUP BY r.vec_id, r.m, cb.code),
       |best AS (SELECT vec_id, m, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, code) AS r FROM dist) WHERE r = 1)
       |SELECT vec_id,
       |  CAST(max(CASE WHEN m = 0 THEN code END) AS BIGINT) AS code0,
       |  CAST(max(CASE WHEN m = 1 THEN code END) AS BIGINT) AS code1,
       |  CAST(max(CASE WHEN m = 2 THEN code END) AS BIGINT) AS code2,
       |  CAST(max(CASE WHEN m = 3 THEN code END) AS BIGINT) AS code3,
       |  CAST(sum(dist) AS BIGINT) AS qerr
       |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ---- s06: ADC search over PQ codes ---------------------------------------
  /** Asymmetric Distance Computation — the search side of PQ (Jégou et
    * al. §IV): each query precomputes a distance TABLE d(q)[m][code] =
    * ||q_m − c_{m,code}||² (queries × M × |codebook| entries, exact
    * integers here); a database vector's approximate distance is then
    * M table lookups summed over its stored codes — no vector math per
    * candidate. Emits top-5 per query by ADC distance (ties → lower
    * vec_id), queries = vec_id < 25, self-match included (it
    * quantizes to qerr, not 0 — PQ is lossy, which this exposes).
    *
    * Scale: the table (|queries| × 4 × |codes| longs) broadcasts; the
    * encoded corpus (4 codes per vector) is scanned once, joined to
    * the broadcast table, and reduced by (query, vector) — the corpus
    * never shuffles by anything wider than its own id, and the 64:1
    * compressed representation is all the search touches. */
  private def s06(s: SparkSession, d: String): DataFrame = {
    // s06 reads the exploded component rows THREE times (codebook
    // training, code assignment, the query table) — checkpoint the
    // slim staging once, scope-released with the query. s05 reads
    // them only twice and recomputation there is cheaper than the
    // materialization barrier, so the checkpoint is s06-local.
    val rows = graft.Resources.checkpoint(pqRows(s, d))
    val codebook = pqCodebook(rows)
    val codes = pqAssign(rows, codebook)
      .select(col("vec_id"), col("m"), col("code"))
    // per-query subspace distance table, from the query's RAW vector
    val table = rows.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("m"), col("j"), col("x"))
      .join(broadcast(codebook), Seq("m", "j"))
      .groupBy(col("qid"), col("m"), col("code"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("td"))
    val adc = codes.join(broadcast(table), Seq("m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("td")).as("adc_dist"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("r", row_number().over(wTop))
      .filter(col("r") <= 5)
      .select(col("qid"), col("r").cast(LongType).as("rank"),
        col("vec_id"), col("adc_dist"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s06Sql =
    s"""WITH v AS ($quantizedSql),
       |rows_ AS (SELECT vec_id, label,
       |    (unnest(generate_series(1, len(q))) - 1) // 16 AS m,
       |    (unnest(generate_series(1, len(q))) - 1) % 16 AS j,
       |    unnest(q) AS x
       |  FROM v),
       |cb AS (SELECT label AS code, m, j,
       |    (CAST(sum(x) AS BIGINT) + 1000 * count(*)) // count(*) - 1000 AS c
       |  FROM rows_ GROUP BY label, m, j),
       |dist AS (SELECT r.vec_id, r.m, cb.code,
       |    CAST(sum((r.x - cb.c) * (r.x - cb.c)) AS BIGINT) AS dist
       |  FROM rows_ r JOIN cb ON cb.m = r.m AND cb.j = r.j
       |  GROUP BY r.vec_id, r.m, cb.code),
       |codes AS (SELECT vec_id, m, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, code) AS rr FROM dist) WHERE rr = 1),
       |tbl AS (SELECT r.vec_id AS qid, r.m, cb.code,
       |    CAST(sum((r.x - cb.c) * (r.x - cb.c)) AS BIGINT) AS td
       |  FROM rows_ r JOIN cb ON cb.m = r.m AND cb.j = r.j
       |  WHERE r.vec_id < 25 GROUP BY r.vec_id, r.m, cb.code),
       |adc AS (SELECT t.qid, c.vec_id, CAST(sum(t.td) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN tbl t ON t.m = c.m AND t.code = c.code
       |  GROUP BY t.qid, c.vec_id)
       |SELECT qid, CAST(r AS BIGINT) AS rank, vec_id, adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY adc_dist, vec_id) AS r FROM adc) WHERE r <= 5
       |ORDER BY qid, rank""".stripMargin

  // ---- s07: BM25-style ranked retrieval ------------------------------------
  /** Lexical ranked retrieval — the inverted-index complement to the
    * vector paths (s01–s06): score every document of the corpus
    * against a fixed term query with a BM25-shaped function and
    * return the top 20. Mirrors the reference's text-search utility
    * surface the same way s01 mirrors embedding search.
    *
    * Determinism: the classical BM25 idf is `ln((N-df+0.5)/(df+0.5))`;
    * `ln` is not guaranteed bit-identical across libm implementations,
    * so the idf keeps the RATIONAL core `(N-df+0.5)/(df+0.5)` without
    * the log — strictly monotone in df, so per-term ranking order is
    * preserved; only the inter-term weighting compresses differently.
    * All inputs (tf, df, dl, N) are exact integers; every double op is
    * a single IEEE-correctly-rounded expression evaluated in an
    * identical parse tree on both engines, and the 3-term score sum is
    * written as a fixed-order chain, so the hashes match exactly.
    *
    * Scale shape (100 TB corpus): ONE corpus scan computes (dl, tf_t)
    * per doc with no explode (tf via `filter` over the token array);
    * the corpus-stats aggregate (N, Σdl, df_t) collapses map-side to
    * one row per partition and broadcasts back as a 1-row cross join —
    * the corpus never shuffles. Top-k plans as TakeOrderedAndProject
    * (per-partition heaps, no global sort); the rank window runs on
    * the 20 surviving rows. With a query LIST instead of literals the
    * same plan keys tf by (doc, term) from posting lists — the df
    * side stays broadcast-sized (vocabulary, not corpus). */
  val bm25Terms = Seq("dup", "vector", "scan")
  val bm25K1 = 1.2
  val bm25B = 0.75

  private def s07(s: SparkSession, d: String): DataFrame = {
    val terms = bm25Terms
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("dl", size(col("w")).cast(LongType))
    val perDoc = terms.zipWithIndex.foldLeft(docs) { case (df, (t, i)) =>
      df.withColumn(s"tf$i",
        size(filter(col("w"), x => x === lit(t))).cast(DoubleType))
    }.drop("w")
    val statsAggs =
      count(lit(1)).cast(DoubleType).as("n_docs") +:
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("w"), t).cast(LongType)).cast(DoubleType).as(s"df$i")
      }
    val stats = docs.agg(statsAggs.head, statsAggs.tail: _*)
    // k1+1 etc. appear as PARSED literals (2.2, 1.2, 0.25, 0.75) on
    // both engines: computing 1.2+1.0 in doubles lands exactly on a
    // representable-midpoint tie, so the computed sum need not equal
    // the parsed "2.2" — inline the same decimal text both sides parse.
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i"); val dfT = col(s"df$i")
      val idf = (col("n_docs") - dfT + lit(0.5)) / (dfT + lit(0.5))
      val lenNorm = lit(0.25) + lit(0.75) *
        (col("dl").cast(DoubleType) / col("avgdl"))
      idf * ((tf * lit(2.2)) / (tf + lit(1.2) * lenNorm))
    }
    val score = terms.indices.map(termScore).reduce(_ + _)
    perDoc.join(broadcast(stats))
      .withColumn("score", score)
      .select(col("doc_id"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .orderBy(col("rank"))
  }

  private val s07Sql = {
    val ts = bm25Terms
    val tfCols = ts.indices.map(i =>
      s"CAST(len(list_filter(w, x -> x = '${ts(i)}')) AS DOUBLE) AS tf$i").mkString(",\n      |    ")
    val dfCols = ts.indices.map(i =>
      s"CAST(sum(CASE WHEN list_contains(w, '${ts(i)}') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i").mkString(",\n      |    ")
    val scoreTerms = ts.indices.map { i =>
      s"((n_docs - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE))) * " +
      s"((tf$i * CAST(2.2 AS DOUBLE)) / (tf$i + CAST(1.2 AS DOUBLE) * " +
      s"(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl))))"
    }
    // fixed-order chain: ((s0 + s1) + s2) — identical to the Spark reduce
    val scoreExpr = scoreTerms.reduce((a, b) => s"($a + $b)")
    s"""WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      |              FROM documents),
      |d2 AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM docs),
      |tf AS (SELECT doc_id, dl,
      |    $tfCols
      |  FROM d2),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
      |    $dfCols
      |  FROM d2),
      |scored AS (SELECT doc_id, dl, $scoreExpr AS score
      |  FROM tf CROSS JOIN st),
      |top AS (SELECT doc_id, dl, score FROM scored
      |        ORDER BY score DESC, doc_id LIMIT 20)
      |SELECT doc_id, dl, score,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |FROM top ORDER BY rank""".stripMargin
  }

  // ---- s08: brute-force top-k via bounded heap aggregator ------------------
  /** s01's exact top-5 semantics through the OTHER physical shape —
    * the one SCALE.md names as the large-k path: a bounded top-k
    * [[graft.functions.FnTask.aggregator]] (the fntask tier-3
    * surface) instead of a rank window. The window formulation
    * shuffles EVERY (query, candidate) score to sort it; the
    * aggregator keeps a k-bounded buffer per query, so map-side
    * partial aggregation collapses each partition to ≤ k rows per
    * query BEFORE the exchange — at 100 TB the shuffle carries
    * |queries|·k·|partitions| rows instead of |queries|·|corpus|.
    * Bounded insert is a semilattice (always the k best under the
    * total order (cosine desc, id asc)), so the result is
    * partition-order-independent — and must hash-match both s01's
    * window formulation and the DuckDB oracle (same SQL as s01). */
  private def s08(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    implicit val bufEnc: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder()
    // (cosine, id) ordered best-first: highest cosine, ties by id
    implicit val best: Ordering[(Double, Long)] =
      Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
    val topk = udaf(graft.functions.FnTask.topK[(Double, Long)](5))
    val v = quantized(s, d).filter(col("norm2") > 0) // see s01: NaN-free
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    v.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .groupBy(col("qid"))
      .agg(topk(col("cosine"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col._2").as("neighbor"),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("col._1").as("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Same oracle as s01 — the two Spark formulations and DuckDB must
    * agree three ways. */
  private val s08Sql = s01Sql

  // ---- s09: composed IVFADC — train → probe → ADC → exact re-rank ---------
  /** The production billion-vector search pipeline in ONE declarative
    * plan (Jégou et al. §V, "IVFADC": inverted file + asymmetric
    * distance computation — the composition every large-scale ANN
    * system ships, here the similarity twin of t15's corpus-build
    * showcase): (1) the coarse quantizer is TRAINED in-plan — two
    * Lloyd reassignment steps (s04's exact-integer step) from the
    * label initialization, because cells must be GEOMETRIC partitions
    * for a probe to mean anything (the raw labels are random wrt the
    * embedding space: measured 13.6% of true top-5 neighbors share
    * the query's label, barely above the 10% chance floor; two
    * trained steps at nprobe=3 put 54% of true neighbors in the
    * candidate pool on the same fixture — the remaining gap is the
    * fixture's weak cluster structure, the classic IVF recall/cost
    * trade); (2) queries probe the top-3 trained cells and the
    * candidates inside them are scored by ADC — 4 table lookups per
    * candidate against the query's precomputed subspace distance
    * table (s05/s06's integer-exact PQ); (3) the ADC top-50 shortlist
    * is re-ranked by EXACT cosine on full vectors, emitting the top 5
    * (the norms are ~constant on this fixture, so L2 ADC ordering
    * tracks cosine; the wide shortlist absorbs the 10-code-per-
    * subspace PQ distortion, the standard R-rerank trade).
    * Every lossy step is bounded by construction: the exact stage
    * reads only |shortlist| full vectors.
    *
    * Scale (100 TB of vectors): the corpus is scanned per Lloyd step
    * and for encoding, never shuffled wider than vec_id — centroids
    * and the PQ codebook are broadcast-sized aggregates, the ADC
    * table is |queries|·4·|codes| longs broadcast, candidates stay
    * inside probed cells (partition keys at scale → partition pruning
    * reads nprobe/|cells| of the data), and the staged component rows
    * and trained assignment are each checkpointed once and reused. */
  private def s09(s: SparkSession, d: String): DataFrame = {
    val subDims = 16
    val v = graft.Resources.checkpoint(quantized(s, d).filter(col("norm2") > 0))
    val rows = graft.Resources.checkpoint(
      v.select(col("vec_id"), col("label"),
          posexplode(col("q")).as(Seq("i", "x")))
        .select(col("vec_id"), col("label"),
          (col("i") / subDims).cast(IntegerType).as("m"),
          pmod(col("i"), lit(subDims)).as("j"), col("x")))
    val codebook = pqCodebook(rows)
    val codes = pqAssign(rows, codebook)
      .select(col("vec_id"), col("m"), col("code"))
    // integer centroids of a (vec_id, cell) assignment — s03/s04 shape
    def centroids(cells: DataFrame): DataFrame =
      v.join(cells, Seq("vec_id"))
        .select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i")).agg(sum(col("x")).as("cx"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
          s => s.getField("cx")).as("c"))
        .withColumn("cn",
          aggregate(zip_with(col("c"), col("c"), _ * _), lit(0L), _ + _))
    // one Lloyd step: every vector to its nearest centroid by cosine
    def reassign(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cell"))
      v.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(col("q"), col("c"), col("norm2"), col("cn")))
        .withColumn("r", row_number().over(w))
        .filter(col("r") === 1)
        .select(col("vec_id"), col("cell"))
    }
    val cells0 = v.select(col("vec_id"), col("label").as("cell"))
    val cells = graft.Resources.checkpoint(
      reassign(centroids(reassign(centroids(cells0)))))
    val cents = centroids(cells)
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("ccos").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("qq"), col("c"), col("qn"), col("cn")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 3)
      .select(col("qid"), col("cell"))
    val table = rows.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("m"), col("j"), col("x"))
      .join(broadcast(codebook), Seq("m", "j"))
      .groupBy(col("qid"), col("m"), col("code"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("td"))
    val cand = probes
      .join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val adc = cand.join(codes, Seq("vec_id"))
      .join(broadcast(table), Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("td")).as("adc_dist"))
    val wShort = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("vec_id"))
    val shortlist = adc.withColumn("r", row_number().over(wShort))
      .filter(col("r") <= 50)
      .select(col("qid"), col("vec_id"), col("adc_dist"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    shortlist
      .join(v.select(col("vec_id"), col("q"), col("norm2")), Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("cosine", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"),
        col("adc_dist"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** One oracle Lloyd step: centroids of cells$n, then (unless `last`)
    * the reassignment cells${n+1}; always leaves centn$n defined for
    * the final probe. The last step emits ONLY the centroid CTEs —
    * the Spark side never computes a third assignment, so the SQL
    * must not imply one. Mirrors the Spark centroids/reassign pair
    * exactly (integer sums, cosine ties to the lower cell id). */
  private def lloydSql(n: Int, last: Boolean = false): String = {
    val cent =
      s"""cx$n AS (SELECT c.cell, i, CAST(SUM(x) AS BIGINT) AS cx FROM (
         |    SELECT vec_id, unnest(q) AS x,
         |           unnest(generate_series(1, len(q))) AS i FROM v) e
         |  JOIN cells$n c ON c.vec_id = e.vec_id GROUP BY c.cell, i),
         |cent$n AS (SELECT cell, list(cx ORDER BY i) AS c FROM cx$n GROUP BY cell),
         |centn$n AS (SELECT cell, c, CAST(list_dot_product(c, c) AS BIGINT) AS cn FROM cent$n)""".stripMargin
    if (last) cent else cent +
      s""",
         |cells${n + 1} AS (SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, centn$n.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        list_dot_product(v.q, centn$n.c) / (sqrt(v.norm2) * sqrt(centn$n.cn)) DESC,
         |        centn$n.cell) AS r
         |    FROM v CROSS JOIN centn$n) WHERE r = 1)""".stripMargin
  }

  private val s09Sql =
    s"""WITH v AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |cells0 AS (SELECT vec_id, label AS cell FROM v),
       |${lloydSql(0)},
       |${lloydSql(1)},
       |${lloydSql(2, last = true)},
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM v WHERE vec_id < 25),
       |probes AS (SELECT qid, cell FROM (
       |    SELECT qs.qid, centn2.cell,
       |      row_number() OVER (PARTITION BY qs.qid ORDER BY
       |        list_dot_product(qs.qq, centn2.c) / (sqrt(qs.qn) * sqrt(centn2.cn)) DESC,
       |        centn2.cell) AS pr
       |    FROM qs CROSS JOIN centn2) WHERE pr <= 3),
       |rows_ AS (SELECT vec_id, label,
       |    (unnest(generate_series(1, len(q))) - 1) // 16 AS m,
       |    (unnest(generate_series(1, len(q))) - 1) % 16 AS j,
       |    unnest(q) AS x
       |  FROM v),
       |cb AS (SELECT label AS code, m, j,
       |    (CAST(sum(x) AS BIGINT) + 1000 * count(*)) // count(*) - 1000 AS c
       |  FROM rows_ GROUP BY label, m, j),
       |dist AS (SELECT r.vec_id, r.m, cb.code,
       |    CAST(sum((r.x - cb.c) * (r.x - cb.c)) AS BIGINT) AS dist
       |  FROM rows_ r JOIN cb ON cb.m = r.m AND cb.j = r.j
       |  GROUP BY r.vec_id, r.m, cb.code),
       |codes AS (SELECT vec_id, m, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, code) AS rr FROM dist) WHERE rr = 1),
       |tbl AS (SELECT r.vec_id AS qid, r.m, cb.code,
       |    CAST(sum((r.x - cb.c) * (r.x - cb.c)) AS BIGINT) AS td
       |  FROM rows_ r JOIN cb ON cb.m = r.m AND cb.j = r.j
       |  WHERE r.vec_id < 25 GROUP BY r.vec_id, r.m, cb.code),
       |cand AS (SELECT p.qid, c.vec_id FROM probes p
       |  JOIN cells2 c ON c.cell = p.cell AND c.vec_id <> p.qid),
       |adc AS (SELECT c.qid, c.vec_id, CAST(sum(t.td) AS BIGINT) AS adc_dist
       |  FROM cand c JOIN codes co ON co.vec_id = c.vec_id
       |  JOIN tbl t ON t.qid = c.qid AND t.m = co.m AND t.code = co.code
       |  GROUP BY c.qid, c.vec_id),
       |short AS (SELECT qid, vec_id, adc_dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc_dist, vec_id) AS r FROM adc) WHERE r <= 50),
       |rr_ AS (SELECT s.qid, s.vec_id, s.adc_dist,
       |    list_dot_product(qs.qq, v.q) / (sqrt(qs.qn) * sqrt(v.norm2)) AS cosine
       |  FROM short s JOIN v ON v.vec_id = s.vec_id JOIN qs ON qs.qid = s.qid)
       |SELECT qid, vec_id AS neighbor, CAST(rank AS BIGINT) AS rank, adc_dist, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, vec_id) AS rank FROM rr_)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- s10: scalar quantization (SQ8) asymmetric search -------------------
  /** The OTHER standard ANN compression next to PQ (s05/s06): per-dim
    * affine 8-bit codes (FAISS ScalarQuantizer QT_8bit). Each
    * component quantizes to floor((x−min_d)·255/span_d) against the
    * corpus-wide per-dim bounds — 1 byte/dim, 4:1 over float32 —
    * and search runs ASYMMETRIC: the exact query against dequantized
    * corpus codes (min_d + code·span_d/255), so the only error is the
    * corpus-side rounding. Everything is exact integer arithmetic in
    * the ×1000-quantized domain (non-negative numerators make Spark
    * DIV ≡ DuckDB // ≡ floor), and the score is an integer dot via
    * the codegen'd LongDot expression — the ranking is
    * hash-deterministic with vec_id tie-break, no doubles anywhere.
    *
    * Scale: the bounds are ONE row of two 64-long arrays (the scalar
    * codebook — vs PQ's labels×M×16 table), broadcast onto the corpus
    * scan (designed BNLJ, s07's class); quantize→dequantize is a
    * per-row transform — the corpus never shuffles until the final
    * per-query top-k. At deployment the stored artifact is the CODE
    * array; dequantize-at-read is the standard trade (SQ decode is 2
    * integer ops/dim vs PQ's table lookup, but 2× the bytes of PQ4). */
  private def s10(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d).filter(col("norm2") > 0)
    val bounds = v
      .select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(i, mn, mx)))," +
        " s -> s.mn)").as("mins"),
        expr("transform(array_sort(collect_list(struct(i, mn, mx)))," +
          " s -> s.mx - s.mn)").as("spans"))
    val deq = // quantize then dequantize, both floor, span 0 → min
      "transform(q, (x, i) -> element_at(mins, i + 1) + " +
        "(((x - element_at(mins, i + 1)) * 255) DIV greatest(element_at(spans, i + 1), 1)) * " +
        "greatest(element_at(spans, i + 1), 1) DIV 255)"
    val coded = v.crossJoin(broadcast(bounds))
      .select(col("vec_id"), expr(deq).as("xhat"))
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    coded.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("score",
        graft.functions.LongDot.dot(col("qq"), col("xhat")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"),
        col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s10Sql =
    s"""WITH v AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |comp AS (
       |  SELECT vec_id, r.i AS i, q[r.i] AS x
       |  FROM v CROSS JOIN range(1, 65) AS r(i)),
       |bounds AS (
       |  SELECT i, min(x) AS mn, greatest(max(x) - min(x), 1) AS span
       |  FROM comp GROUP BY i),
       |deq AS (
       |  SELECT vec_id, comp.i AS i,
       |    mn + ((x - mn) * 255 // span) * span // 255 AS xh
       |  FROM comp JOIN bounds ON comp.i = bounds.i),
       |coded AS (
       |  SELECT vec_id, list(xh ORDER BY i) AS xhat FROM deq GROUP BY vec_id),
       |qs AS (SELECT vec_id AS qid, q AS qq FROM v WHERE vec_id < 25),
       |scored AS (
       |  SELECT qid, vec_id,
       |    CAST(list_dot_product(qq, xhat) AS BIGINT) AS score
       |  FROM coded CROSS JOIN qs WHERE vec_id <> qid),
       |ranked AS (SELECT qid, vec_id, score,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT qid, vec_id AS neighbor, rank, score
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- s11: MMR diversity re-rank ------------------------------------------
  // Carbonell & Goldstein 1998 (maximal marginal relevance): after
  // retrieval returns a shortlist, greedily pick k results maximizing
  // λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
  // redundancy-removal step between ANN retrieval and a RAG context
  // window (without it, near-duplicate corpus entries fill all k
  // slots). λ = 0.7, shortlist 12, k = 5, over s01's query set.
  //
  // Determinism: rel and sim are cosines over the same quantized
  // integers on both engines (identical double arithmetic); argmax
  // ties break by candidate id. The greedy recurrence is unrolled to
  // k−1 join steps — the same fixed-iteration trick as g02/g04 —
  // which is what makes an inherently sequential re-rank
  // hash-comparable across engines.
  //
  // Scale shape: the CORPUS is touched only by the s01-shaped
  // retrieval scan (broadcast queries, corpus streamed once, top-12
  // per query via the rank window). Everything after — the pairwise
  // sim matrix (≤ |Q|·12² rows) and the k−1 greedy steps — operates
  // on shortlist-sized frames independent of corpus size; MMR cost
  // per query is k·shortlist pair lookups by construction.
  private val MmrShortlist = 12
  private val MmrK = 5
  private val MmrLambda = 0.7

  private def s11(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d).filter(col("norm2") > 0)
    val queries = v.filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("cid"))
    // The retrieval stage runs ONCE and materializes: without the
    // checkpoint every unrolled greedy step re-derives the corpus
    // scan + rank window through its own lineage copy (the anti-join
    // and semi-join each reference the previous selection, so the
    // logical tree doubles per step — measured 11.3 s of FLAT
    // plan-size cost at every SF before the cut, 1–2 s after). The
    // shortlist is |Q|·12 rows, so the checkpoint is a few KB; scope
    // lifetime per Resources (released when the query's action ends).
    val cand = graft.Resources.checkpoint(
      v.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .withColumn("rel", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
        .withColumn("cid", col("vec_id"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= MmrShortlist)
        .select(col("qid"), col("cid"), col("rel"),
          col("q").as("cq"), col("norm2").as("cn")))
    val a = cand.select(col("qid"), col("cid").as("a"),
      col("cq").as("aq"), col("cn").as("an"))
    val b = cand.select(col("qid"), col("cid").as("b"),
      col("cq").as("bq"), col("cn").as("bn"))
    val psim = a.join(b, Seq("qid")).filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        cosine(col("aq"), col("bq"), col("an"), col("bn")).as("sim"))
    val rel = cand.select(col("qid"), col("cid"), col("rel"))
    val w1 = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("cid"))
    var sel = rel.withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select(col("qid"), col("cid").as("vec_id"), lit(1L).as("rank"),
        (lit(MmrLambda) * col("rel")).as("mmr"))
    for (r <- 2 to MmrK) {
      val selSlim = sel.select(col("qid").as("sq"), col("vec_id").as("sv"))
      val remaining = rel.join(selSlim,
        rel("qid") === col("sq") && rel("cid") === col("sv"), "left_anti")
      val maxsim = psim.join(selSlim,
          psim("qid") === col("sq") && psim("b") === col("sv"), "left_semi")
        .groupBy(col("qid"), col("a")).agg(max(col("sim")).as("maxsim"))
      val wr = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("cid"))
      val pick = remaining
        .join(maxsim, remaining("qid") === maxsim("qid") &&
          remaining("cid") === maxsim("a"))
        .select(remaining("qid"), col("cid"), col("rel"), col("maxsim"))
        .withColumn("score",
          lit(MmrLambda) * col("rel") - lit(1.0 - MmrLambda) * col("maxsim"))
        .withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("qid"), col("cid").as("vec_id"),
          lit(r.toLong).as("rank"), col("score").as("mmr"))
      // keep the selection's lineage LINEAR in the step count (each
      // step references `sel` twice — unchecked, the tree doubles per
      // step); the frame is ≤ |Q|·r rows.
      sel = graft.Resources.checkpoint(sel.unionByName(pick))
    }
    sel.select(col("qid"), col("rank"), col("vec_id").as("neighbor"),
        col("mmr"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s11Sql = {
    def step(r: Int): String = {
      val prev = if (r == 2) "sel1" else s"sel${r - 1}"
      s"""pick$r AS (
         |  SELECT qid, cid AS vec_id, CAST($r AS BIGINT) AS rank,
         |    score AS mmr
         |  FROM (
         |    SELECT m.qid, m.cid, $MmrLambda * m.rel -
         |        ${1.0 - MmrLambda} * m.maxsim AS score,
         |      row_number() OVER (PARTITION BY m.qid
         |        ORDER BY $MmrLambda * m.rel -
         |          ${1.0 - MmrLambda} * m.maxsim DESC, m.cid) AS rn
         |    FROM (
         |      SELECT c.qid, c.cid, c.rel, max(p.sim) AS maxsim
         |      FROM rel c
         |      JOIN psim p ON p.qid = c.qid AND p.a = c.cid
         |      JOIN $prev s ON s.qid = p.qid AND s.vec_id = p.b
         |      WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |        WHERE x.qid = c.qid AND x.vec_id = c.cid)
         |      GROUP BY c.qid, c.cid, c.rel) m) WHERE rn = 1),
         |sel$r AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick$r)""".stripMargin
    }
    s"""WITH v AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM v WHERE vec_id < 25),
       |scored AS (SELECT qid, vec_id AS cid,
       |    list_dot_product(qq, q) / (sqrt(qn) * sqrt(norm2)) AS rel,
       |    q, norm2
       |  FROM v CROSS JOIN qs WHERE vec_id <> qid),
       |cand AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, cid) AS rk FROM scored)
       |  WHERE rk <= $MmrShortlist),
       |psim AS (
       |  SELECT a.qid, a.cid AS a, b.cid AS b,
       |    list_dot_product(a.q, b.q) / (sqrt(a.norm2) * sqrt(b.norm2)) AS sim
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid),
       |rel AS (SELECT qid, cid, rel FROM cand),
       |sel1 AS (
       |  SELECT qid, cid AS vec_id, CAST(1 AS BIGINT) AS rank,
       |    $MmrLambda * rel AS mmr
       |  FROM (SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, cid) AS rn FROM rel) WHERE rn = 1),
       |${(2 to MmrK).map(step).mkString(",\n")}
       |SELECT qid, rank, vec_id AS neighbor, mmr
       |FROM sel$MmrK ORDER BY qid, rank""".stripMargin
  }

  // ---- s12: metadata-filtered vector search --------------------------------
  // The composition every vector store markets: a metadata predicate
  // AND nearest-neighbor ranking in one query. Semantics matter:
  // this is PRE-filtering (restrict the corpus, then rank) — the
  // correct contract — not post-filtering (rank top-k, then filter),
  // which silently returns < k results whenever the filter is
  // selective. In Spark the composition is just a `.filter` on the
  // corpus branch: Catalyst pushes `label IN (1,3)` into the parquet
  // scan (PushedFilters — the predicate prunes row groups BEFORE a
  // single distance is computed), the broadcast-query scan shape is
  // s01's, and per-query top-5 ranks over the filtered corpus only.
  // At 100 TB with label-partitioned embeddings the same plan becomes
  // partition pruning (q32's mechanism) — the filter cost goes to
  // ZERO scan, which is why prefilter-ANN composes with layout and
  // postfilter-ANN never can.
  private def s12(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d)
      .filter(col("norm2") > 0 && col("label").isin(1, 3))
    val queries = quantized(s, d).filter(col("norm2") > 0)
      .filter(col("vec_id") < 25)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    v.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("cosine", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("neighbor"), col("label"),
        col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  private val s12Sql =
    s"""WITH base AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |v AS (SELECT * FROM base WHERE label IN (1, 3)),
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM base
       |       WHERE vec_id < 25),
       |scored AS (SELECT qid, vec_id, label,
       |    list_dot_product(qq, q) / (sqrt(qn) * sqrt(norm2)) AS cosine
       |  FROM v CROSS JOIN qs WHERE vec_id <> qid),
       |ranked AS (SELECT qid, vec_id, label, cosine,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT qid, vec_id AS neighbor, label, rank, cosine
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // ---- s13: composed RAG retrieval pipeline --------------------------------
  // The full retrieval side of a RAG deployment in ONE declarative
  // plan: embed-side retrieval (s01's broadcast-query scan, top-12
  // shortlist), passage fetch (shortlist ⋈ documents by id — the
  // embeddings table is per-document, vec_id = doc_id), per-source
  // diversity cap (≤2 passages per source per query — the practical
  // redundancy rule next to s11's MMR), and token-budget context
  // packing (relevance-ordered cumulative token count, keep while
  // ≤ 192 — the step that turns a ranked list into a prompt context).
  //
  // Scale shape — the part that matters at 100 TB:
  //  * the embeddings corpus is touched ONCE by the retrieval scan
  //    (broadcast query set; top-12 via the rank window);
  //  * the documents corpus is touched ONCE, by a BROADCAST hash join
  //    against the ≤|Q|·12-row shortlist — the "fetch passages by id"
  //    lookup; no corpus shuffle on either side (at scale this join
  //    is served by a row store, and the in-plan shape — small side
  //    broadcast, big side streamed — is exactly that access pattern);
  //  * everything after (diversity cap, budget pack) is window math
  //    over shortlist-sized frames, independent of corpus size.
  //
  // Determinism: rel is the s01 cosine (identical integer dots +
  // double arithmetic both engines); all windows tie-break by doc_id;
  // token counts are exact; passage fingerprints are md5 of the
  // reconstructed passage text.
  private val RagShortlist = 12
  private val RagPerSource = 2
  private val RagBudget = 192
  private val RagPassageTok = 64

  private def s13(s: SparkSession, d: String): DataFrame = {
    val v = quantized(s, d).filter(col("norm2") > 0)
    val queries = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("norm2").as("qn"))
    val wR = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("vec_id"))
    val shortlist = v.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("rel", cosine(col("qq"), col("q"), col("qn"), col("norm2")))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= RagShortlist)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rel"))
    val wtoks = split(trim(col("text")), "\\s+")
    val passages = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        array_join(slice(wtoks, 1, RagPassageTok), " ").as("passage"),
        least(size(wtoks), lit(RagPassageTok)).cast(LongType).as("n_tok"))
    val fetched = passages.join(broadcast(shortlist), "doc_id")
    val wSrc = Window.partitionBy(col("qid"), col("source"))
      .orderBy(col("rel").desc, col("doc_id"))
    val wPack = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("doc_id"))
    fetched
      .withColumn("src_rn", row_number().over(wSrc))
      .filter(col("src_rn") <= RagPerSource)
      .withColumn("cum_tok", sum(col("n_tok")).over(wPack))
      .filter(col("cum_tok") <= RagBudget)
      .withColumn("position", row_number().over(wPack).cast(LongType))
      .select(col("qid"), col("position"), col("doc_id"), col("source"),
        col("rel"), col("n_tok"), col("cum_tok").cast(LongType).as("cum_tok"),
        md5(col("passage").cast(BinaryType)).as("chunk_fp"))
      .orderBy(col("qid"), col("position"))
  }

  private val s13Sql =
    s"""WITH v AS (SELECT * FROM ($quantizedSql) WHERE norm2 > 0),
       |qs AS (SELECT vec_id AS qid, q AS qq, norm2 AS qn FROM v
       |       WHERE vec_id < 8),
       |scored AS (SELECT qid, vec_id,
       |    list_dot_product(qq, q) / (sqrt(qn) * sqrt(norm2)) AS rel
       |  FROM v CROSS JOIN qs WHERE vec_id <> qid),
       |shortlist AS (SELECT qid, vec_id AS doc_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, vec_id) AS rk FROM scored)
       |  WHERE rk <= $RagShortlist),
       |p AS (SELECT doc_id, source,
       |    array_to_string(wl[1:$RagPassageTok], ' ') AS passage,
       |    CAST(least(len(wl), $RagPassageTok) AS BIGINT) AS n_tok
       |  FROM (SELECT doc_id, source,
       |          string_split_regex(trim(text), '\\s+') AS wl
       |        FROM documents)),
       |fetched AS (SELECT s.qid, s.rel, p.* FROM p
       |  JOIN shortlist s USING (doc_id)),
       |capped AS (SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid, source
       |      ORDER BY rel DESC, doc_id) AS src_rn FROM fetched)
       |  WHERE src_rn <= $RagPerSource),
       |packed AS (SELECT *,
       |    CAST(sum(n_tok) OVER (PARTITION BY qid
       |      ORDER BY rel DESC, doc_id) AS BIGINT) AS cum_tok
       |  FROM capped)
       |SELECT qid,
       |  CAST(row_number() OVER (PARTITION BY qid
       |    ORDER BY rel DESC, doc_id) AS BIGINT) AS position,
       |  doc_id, source, rel, n_tok, cum_tok, md5(passage) AS chunk_fp
       |FROM packed WHERE cum_tok <= $RagBudget
       |ORDER BY qid, position""".stripMargin

  val all: Seq[Q] = Seq(
    Q("s01_knn_bruteforce", s01, Some(s01Sql)),
    Q("s02_ann_lsh", s02, Some(s02Sql)),
    Q("s03_ivf_probe", s03, Some(s03Sql)),
    Q("s04_kmeans_step", s04, Some(s04Sql)),
    Q("s05_pq_encode", s05, Some(s05Sql)),
    Q("s06_pq_adc", s06, Some(s06Sql)),
    Q("s07_bm25_rank", s07, Some(s07Sql)),
    Q("s08_knn_heap", s08, Some(s08Sql)),
    Q("s09_ivfadc_search", s09, Some(s09Sql)),
    Q("s10_sq8_search", s10, Some(s10Sql)),
    Q("s11_mmr_rerank", s11, Some(s11Sql)),
    Q("s12_filtered_search", s12, Some(s12Sql)),
    Q("s13_rag_pipeline", s13, Some(s13Sql)),
  )
}
