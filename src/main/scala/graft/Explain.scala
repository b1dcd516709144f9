package graft

/** Plan-audit main: prints the formatted physical plan of the named
  * queries (or all, given "all") so scan pruning (ReadSchema,
  * PushedFilters), join strategies (BroadcastHashJoin), and
  * WholeStageCodegen spans can be inspected per query.
  * Usage: runMain graft.Explain <sfDir> <name>[,<name>...]
  *
  * `runMain graft.Explain <sfDir> audit` instead sweeps EVERY
  * registered plan for the two scale red flags and fails (exit 1) on
  * any violation: a CartesianProduct anywhere, or a
  * BroadcastNestedLoopJoin outside [[Explain.BnljAllowlist]] — the
  * queries whose BNLJ is a DESIGNED bounded-broadcast shape (1-row
  * stats/bounds rows, deliberately small query sets, tick/layout
  * grids; each justified in SCALE.md §"Plan audit"). A range/theta
  * join of two corpus-sized sides — the BNLJ class that IS a bug —
  * can therefore never land in the registry unnoticed. */
object Explain {

  /** Queries whose physical plan is expected to contain a
    * BroadcastNestedLoopJoin by design (bounded broadcast side). */
  val BnljAllowlist: Set[String] = Set(
    "s01_knn_bruteforce", "s08_knn_heap", // broadcast query set × corpus
    "s03_ivf_probe",   // 2 probe cells broadcast onto the corpus
    "s04_kmeans_step", // k×dim centroid table broadcast
    "d15_semantic_dedup", // same k×dim centroid broadcast (SemDeDup assign)
    "s09_ivfadc_search", // Lloyd steps + probe: k×dim centroids broadcast
    "s10_sq8_search",  // 1-row scalar codebook + broadcast query set (s01 class)
    "s11_mmr_rerank",  // broadcast query set × corpus (s01 class retrieval stage)
    "s12_filtered_search", // broadcast query set × label-pruned corpus (s01 class)
    "s07_bm25_rank",   // 1-row corpus stats fanned onto the scan
    "t08_domain_mix",  // 1-row totals row
    "t17_bpe_train",   // 1-row pair-argmax frame broadcast per iteration
    "t20_bpe_encode",  // same argmax frames (t20 replays t17's merges)
    "e12_time_buffer", "e15_repeater", "e21_output_container",
    "p03_audio_mixer", // bounded tick grids (1-row min/max bounds)
    "m06_video_layout", // bounded layout grid
    "k05_bloom_semijoin", // 1-row 128 KiB bloom map fanned onto the scan
    "g02_pagerank",    // 1-row node-count frame onto the |V|-row rank table
    "t22_dsir_selection", // 1-row Nt/Nr totals onto the ≤1024-row model
    "t23_nb_classifier",  // 1-row |V|/doc-count totals + 2-row prior grid
    "s13_rag_pipeline",   // broadcast query set × corpus (s01-class retrieval)
    "t24_tfidf_keywords"  // 1-row corpus-count frame onto the vocab-sized tf/df join
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val audit = args.length >= 2 && args(1) == "audit"
    val names: Seq[String] =
      if (args.length < 2 || args(1) == "all" || audit)
        QueryRegistry.all.map(_.name)
      else args(1).split(",").toSeq
    val spark = GraftSession.build()
    var violations = List.empty[String]
    names.foreach { n =>
      if (audit) {
        graft.Resources.withScope {
          val plan = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan.toString
          val bnlj = plan.contains("BroadcastNestedLoopJoin")
          if (plan.contains("CartesianProduct"))
            violations ::= s"$n: CartesianProduct"
          if (bnlj && !BnljAllowlist.contains(n))
            violations ::= s"$n: BroadcastNestedLoopJoin outside allowlist"
          println(f"$n%-28s ${if (bnlj) "BNLJ(allowed)" else "ok"}")
        }
      } else {
        println(s"\n========== $n ==========")
        graft.Resources.withScope {
          SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        }
      }
    }
    GraftSession.close(spark)
    if (audit) {
      if (violations.nonEmpty) {
        violations.foreach(v => System.err.println(s"[audit] VIOLATION $v"))
        sys.exit(1)
      } else println(s"[audit] ${names.size} plans: CartesianProduct 0, " +
        s"BNLJ only in the ${BnljAllowlist.size}-query designed allowlist")
    }
  }
}
