package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-curve harness: times the headline queries across the three
  * driver scale factors (sf0.001 / sf0.01 / sf0.1 — a 100× span) plus
  * a 10×-amplified corpus one decade BEYOND the largest driver SF, and
  * fits the observed scaling exponent per decade (slope of log time
  * over log scale). The point is to turn SCALE.md's 100×-design
  * *claims* into measured curves: a linear-shaped operator should hold
  * an exponent near 1 (below 1 while fixed per-query overhead still
  * dominates); anything super-linear is a scale bug surfacing early.
  *
  * The 10× corpus amplifies the STRUCTURE linearly, not the duplicate
  * density: each replica r > 0 re-ids its documents past the original
  * id range and SUFFIXES a replica-unique tag onto every token, so
  * every shingle of every replicated doc embeds the tag — documents in
  * different replicas share ZERO shingles — while token counts,
  * shingle counts, and the per-replica document-frequency distribution
  * stay exactly the original corpus's (an earlier interleaved-token
  * variant halved prefix-filter selectivity by creating unigram-df
  * shingles and faked a quadratic d03). Near-dup pairs/clusters grow
  * 10× (linearly), NOT the 100× pair blow-up naive duplication
  * (10-cliques of the same text) would inject. lineitem/orders amplify
  * by shifting orderkeys past the original key range (join structure
  * preserved, fact size ×10); dimension tables stay as-is
  * (broadcast-sized at any SF).
  *
  * Usage: runMain graft.ScaleCurve [outDir]   (default target/scale)
  * Prints one JSON line per query with per-scale seconds and fitted
  * exponents; human table goes to stderr.
  */
object ScaleCurve {
  private val Queries = Seq("d01_exact_dedup", "d02_minhash_lsh",
    "d03_ngram_jaccard", "d03p_jaccard_prefix",
    "d06_lsh_verified", "d09_dup_clusters",
    "d10_cc_fixpoint", "d11_substring_dedup", "d12_leakage_safe_split",
    "d13_dup_spans", "d14_span_scrub", "d15_semantic_dedup",
    "d16_canonical_selection", "d17_contamination_report",
    "q04_multi_join", "q28_range_join_auto", "q30_bucketed_join",
    "q31_salted_skew_join",
    "s02_ann_lsh", "s04_kmeans_step", "s05_pq_encode", "s07_bm25_rank",
    "s09_ivfadc_search", "s10_sq8_search",
    "t05_ngram_profile", "t15_corpus_pipeline", "t16_lm_surprisal",
    "t17_bpe_train", "t19_pretrain_pipeline", "e18_sessionize",
    // sketches ride the amplified lineitem (distinct keys ×10): the
    // claim under test is cost ~ scan while the shuffle stays O(k)/O(m)
    "k01_kmv_distinct", "k02_hll_distinct", "k03_sample_quantiles",
    "k04_kmv_jaccard", "k05_bloom_semijoin", "k07_corpus_profile",
    "k08_countmin_hh", "t21_chunk_windows", "s11_mmr_rerank",
    "g04_label_propagation",
    "t22_dsir_selection", "t23_nb_classifier",
    // graph family: g01 publishes the session edge table, g02/g03/g05
    // ride it (the persisted-intermediate pattern, like d10→d12)
    "g01_triangle_count", "g02_pagerank", "g03_common_neighbors",
    "g05_bfs_landmarks", "g06_kcore", "g07_sssp",
    "t24_tfidf_keywords", "m22_scene_detect", "m23_video_curation",
    "d18_soft_dedup", "q33_range_frame", "t25_span_corrupt",
    "m24_blur_score",
    // round-10 third pass: the audio-fingerprint matcher (capped-hash
    // join + offset votes), HyperBall on the amplified graph, the
    // loaded video deployment (per-frame kernels + keyed meter), FLV
    // (per-container mapGroups — the m16 shape)
    "p12_audio_fingerprint", "g08_hyperball", "c11_video_deployment",
    "m30_flv_container",
    "m31_rtmp_chunks",      // per-container chunk framing: the m30 shape
    "c14_live_deployment",  // RTMP capture -> loaded DAG: mux/demux + keyed meter
    "m32_rtmp_metadata",    // AMF0 metadata lead message: per-container scan
    "e51_streaming_ingest", // in-stream FLV demux: batch floors + per-segment demux
    "p13_flac_codec",       // per-chunk FLAC file encode+decode: the m30 shape
    "m35_mp4_classic",      // per-container classic-MP4 tables: the m25 shape
    // round 11: the composed codecs and the live-socket ingest
    "m36_gvc_mp4",          // GVC encode->mp4->decode per container: m28 shape
    "m37_h264_index",       // NAL/SPS/slice header indexing: m36 shape
    "p14_gac_bitstream",    // GAC per-chunk mapPartitions: the p11 shape
    "p15_audio_frame_index",// ADTS/MP3 header walk: the p13 chunk shape
    "m38_vp8_ivf",          // IVF/VP8 tag walk: the m37 shape
    "m39_webm_vp8",         // VP8 tags in EBML blocks: the m19 shape
    "p16_opus_ogg_index",   // Opus TOC in Ogg pages: the p15 shape
    "e52_socket_ingest",    // one-socket ingest: the documented single
                            // ingest point — cost tracks capture bytes
    // round 12: payload decode + continuity audit legs
    "m40_vp8_decode",       // VP8 keyframe encode->ivf->decode: m36 shape
    "m41_vp8_bpred",        // VP8 B_PRED 4x4 chained decode: m40 shape
    "p17_mp2_subband_decode", // Layer II subband bitstream: p15 shape
    "p18_opus_continuity",  // Ogg-Opus granule ledger: p16 shape
    // round 12 second pass: inter-frame + conformant-payload decode
    "m44_vp8_pframes",      // keyframe + ZEROMV chain decode: m40 shape
    "m45_vp8_motion",       // NEWMV/NEARESTMV displaced reads: m44 shape
    "m46_h264_ipcm",        // conformant I_PCM slices: m40 shape
    "m47_webm_vp8_stream",  // mixed key+inter stream in webm: m42 shape
    "m48_vp8_scene_detect", // curation over decoded pixels: m44 shape
    "m49_vp8_golden_ref",   // golden-anchored decode: m44 shape
    "m50_vp8_skip",         // mb_no_coeff_skip chain: m44 shape
    "m51_vp8_qdelta",       // per-frame quantizer deltas: m44 shape
    "m52_vp8_partitions",   // two token partitions per frame: m44 shape
    "m53_vp8_splitmv",      // per-subblock motion collage: m44 shape
    "m54_vp8_segmentation", // per-MB quantizer routing: m44 shape
    "m55_vp8_normal_filter",// wide-tap in-loop smoothing: m43 shape
    "e53_streaming_vp8",    // stateful decode through the stream mount
    "p19_mp1_decode",       // Layer I conformant bitstream: p17 shape
    // round 13: conformance headers, entropy-state streaming,
    // synthesis windowing, Layer III structure, intra modes, dyadic
    // quantiles
    "m56_vp8_conformance",  // entropy updates + lf deltas + sharpness: m44 shape
    "e54_streaming_vp8_entropy", // Ctx through the state store: e53 shape
    "m57_h264_intra_modes", // §8.3.1.1 mode lattice: m46 shape
    "p20_mp2_synthesis",    // V->U->W·D filterbank per chunk: p17 shape
    "p21_mp3_structure",    // side info + regions + requant: p17 shape
    "p22_mp3_reservoir",    // main_data_begin layout walk: p17 shape
    "k09_dyadic_quantiles", // counter sketch: shuffle O(cells), scan-bound
    "k10_streaming_dyadic", // per-key counters through the stream mount
    "m58_vp8_buffer_lifecycle", // sect 9.7 refresh/copy chains: m44 shape
    "m59_vp8_temporal_segments", // persistent map + segment lf: m54 shape
    "m60_vp8_intra_refresh", // B_PRED inside P-frames: m44 shape
    "m61_vp8_display_crop", // padded decode + display crop: m44 shape
    "e55_streaming_vp8_lifecycle", // buffer flags through the state store: e53 shape
    // round 14: the verdict's four ranked gaps + the reservoir stream
    "p23_mp3_short_blocks", // window switching + reorder windows: p21 shape
    "p24_mp3_stereo",       // two-channel side info + MS/intensity: p21 shape
    "p25_aac_structure",    // AAC-LC SCE raw_data_blocks in ADTS: p15 shape
    "p26_aac_cpe",          // AAC CPE + M/S over ms_used: p25 shape
    "m62_h264_cavlc",       // sect 9.2 residual blocks + nC lattice: m57 shape
    "m63_vp8_upscale",      // display upscaling over the m61 chain: m61 shape
    "e56_streaming_mp3_reservoir", // 511-byte window through the state store: e53 shape
    "p27_aac_intensity",    // two-accumulator intensity CPE: p26 shape
    "m64_h264_i16x16",      // I_16x16 DC/AC CAVLC split: m62 shape
    "m65_h264_pslice",      // skip runs + P_L0_16x16 residuals: m62 shape
    "p28_aac_pns",          // third-accumulator noise energies: p25 shape
    "p29_mp2_stereo",       // joint-bound shared subbands: p17 shape
    "m66_h264_multislice",  // slice-scoped availability: m62 shape
    "m67_aac_mp4",          // AAC SCE samples in classic MP4: m35 shape
    "p30_mp1_stereo",       // Layer I joint bound: p29 shape
    // round 15: decode-to-PCM/pixels + the second entropy coder
    "p31_mp3_pcm",          // hybrid filterbank lattice per chunk: p21 shape
    "p32_aac_pcm",          // IMDCT 2048/256 + overlap per chunk: p25 shape
    "p33_mp3_stereo_pcm",   // two hybrid chains + MS combine: p31 shape
    "e57_streaming_mp3_pcm",// 1600-Long hybrid state through the store: e56 shape
    "m68_h264_recon",       // sect 8.3/8.5 pixels per container: m62 shape
    "m69_h264_cabac",       // arithmetic coder round trip: m57 shape
    "p34_ac3_index",        // A/52 syncframe + BSI walk: p15 shape
    "m70_mpeg4p2_index",    // 14496-2 start-code walk: m37 shape
    "m71_h264_deblock",     // sect 8.7 two-pass filter: m68 shape
    "e58_streaming_aac_pcm",// 1024-Long overlap through the store: e57 shape
    "m72_h264_cabac_residual", // sect 9.3.2.3 coefficient syntax: m69 shape
    "m27_container_matrix") // the 8-leg matrix: cost ~ legs by design

  /** The dedup AND similarity tails get a FIFTH decade (×100 sf0.1,
    * documents + embeddings amplification, ~6 GB of text + 500k
    * vectors): the mechanisms whose scale claims matter most — d02's
    * hot-bucket cap, d03p's prefix-filter plan, d10's pointer-jumping
    * fixpoint, d12 riding d10's published label table, and s07's
    * never-shuffle-the-corpus BM25 (the ranking headline). s02 is
    * deliberately NOT here: its pair work is L·n²/2^P BY DESIGN with
    * the plane count P as the bucket-size knob — at ×100 corpus and
    * FIXED P=8 the same-bucket pairs are ~2·(500k)²/256 ≈ 2·10⁹, a
    * configuration no production job runs (P scales with log n to
    * hold |bucket|; BucketingSpec asserts exactly that max-bucket
    * shrinkage), and the replica corpus makes every true neighbor an
    * exact duplicate — the cell would measure a mis-tuned config on a
    * degenerate geometry, not the operator. SCALE.md carries the
    * arithmetic. */
  private val X100Queries =
    Seq("d02_minhash_lsh", "d03p_jaccard_prefix", "d06_lsh_verified",
      "d10_cc_fixpoint",
      "d12_leakage_safe_split", "d13_dup_spans", "d14_span_scrub",
      "d16_canonical_selection", // rides d10's labels like d12
      "d17_contamination_report", // broadcast eval side fixed, corpus scan x100
      "s07_bm25_rank",
      "s09_ivfadc_search", "t15_corpus_pipeline", "t16_lm_surprisal",
      "t17_bpe_train", "t19_pretrain_pipeline",
      "k04_kmv_jaccard", // documents-keyed sketch: ×100 slice overlap
      "k07_corpus_profile", // single-scan profile: the ×100 stats job
      "k08_countmin_hh", // CMS: shuffle stays O(d·w) while the corpus ×100s
      "t21_chunk_windows", // row-local chunker: pure scan scaling
      "s11_mmr_rerank", // retrieval scan ×100; greedy stays shortlist-sized
      "t22_dsir_selection", // scan ×100; both models stay ≤1024 buckets
      "t23_nb_classifier", // scan ×100; model fixed at classes × 4096
      "t24_tfidf_keywords", // scan ×100; df table grows with replica vocab but stays broadcast-sized
      "m22_scene_detect",  // row-local luma fold: pure scan scaling
      "m23_video_curation", // composed tail: everything after the scene rollup is |scenes|-sized
      "d18_soft_dedup",    // rides d10's labels like d12/d16
      "t25_span_corrupt",  // row-local HOF build: pure scan scaling
      "m24_blur_score")    // row-local Laplacian fold: pure scan scaling

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/scale")
    // Optional 2nd arg: comma-separated name prefixes restricting the
    // measured queries (local iteration — a new row shouldn't force a
    // full-curve rerun); the amplified corpora build/cache either way.
    val only = args.drop(1).headOption.map(_.split(",").toSeq)
      .getOrElse(Seq.empty)
    def keep(n: String) = only.isEmpty || only.exists(n.startsWith)
    val spark = GraftSession.build()
    // buildX10/buildX100 read events.parquet directly
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val x10 = s"$outDir/x10"
    buildX10(spark, "/root/testdata/sf0.1", x10)

    // (label, dir, decades of scale relative to sf0.001)
    val scales = Seq(
      ("sf0.001", "/root/testdata/sf0.001", 0.0),
      ("sf0.01", "/root/testdata/sf0.01", 1.0),
      ("sf0.1", "/root/testdata/sf0.1", 2.0),
      ("sf0.1x10", x10, 3.0))

    def time(name: String, dir: String): Double =
      GraftSession.force(spark, name, dir)

    time(Queries.head, scales.head._2) // JIT warm-up, unmeasured
    val lastTs = scala.collection.mutable.Map.empty[String, Double]
    val rows = Queries.filter(keep).map { q =>
      val ts = scales.map { case (_, dir, _) =>
        math.min(time(q, dir), time(q, dir)) // min of 2 (noise floor)
      }
      lastTs(q) = ts.last
      // per-decade exponent: slope of log10(t) across one decade of scale
      val exps = ts.sliding(2).map { case Seq(a, b) => math.log10(b / a) }.toSeq
      System.err.println(f"$q%-22s ${ts.map(t => f"$t%7.2f").mkString(" ")}  " +
        f"exp ${exps.map(e => f"$e%5.2f").mkString(" ")}")
      s""""$q":{"sec":[${ts.map(t => f"$t%.3f").mkString(",")}],""" +
        s""""exp":[${exps.map(e => f"$e%.3f").mkString(",")}]}"""
    }
    val x100 = s"$outDir/x100"
    buildX100(spark, "/root/testdata/sf0.1", x100)
    val x100Rows = X100Queries.filter(keep).map { q =>
      val t = math.min(time(q, x100), time(q, x100))
      val exp = math.log10(t / lastTs(q))
      System.err.println(f"$q%-22s x100 $t%7.2f  exp $exp%5.2f")
      s""""$q":{"sec":${f"$t%.3f"},"exp":${f"$exp%.3f"}}"""
    }
    println(s"""{"scales":[${scales.map(s => s""""${s._1}"""").mkString(",")}],""" +
      s""""queries":{${rows.mkString(",")}},""" +
      s""""x100":{${x100Rows.mkString(",")}}}""")
    GraftSession.close(spark)
  }

  /** Replica-amplified documents table (same perturbation scheme as
    * [[buildX10]]: replica-unique token suffixes, re-ids past the
    * original range — duplicate STRUCTURE grows linearly). */
  private def amplifyDocs(spark: SparkSession, base: String, dir: String,
      nReps: Int, outParts: Int): Unit = {
    val reps = spark.range(0, nReps).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    docs.crossJoin(broadcast(reps))
      .select((Seq(
        (col("doc_id") + col("rep") * maxDoc).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1zq"), col("rep"), lit("x")))).as("text")) ++
        docs.columns.filterNot(c => c == "doc_id" || c == "text")
          .map(col)): _*)
      .repartition(outParts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Write the ×100 corpus: documents amplified 100× and embeddings
    * amplified 100× (same re-id scheme as [[buildX10]] — labels/IVF
    * cells keep their cardinality so per-cell work grows linearly),
    * every other table symlinked UNAMPLIFIED from the base dir (only
    * documents/embeddings-shaped queries run at this decade).
    * Idempotent; the marker name is versioned so a recipe change
    * rebuilds a stale cached corpus. */
  private def buildX100(spark: SparkSession, base: String, dir: String): Unit = {
    val d = new java.io.File(dir)
    if (new java.io.File(d, "_OK2").exists()) return
    d.mkdirs()
    amplifyDocs(spark, base, dir, nReps = 100, outParts = 128)
    val reps = spark.range(0, 100).select(col("id").as("rep"))
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(broadcast(reps))
      .select((Seq((col("vec_id") + col("rep") * maxVec).as("vec_id")) ++
        emb.columns.filterNot(_ == "vec_id").map(col)): _*)
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (t <- Tables.all if t != "documents" && t != "embeddings") {
      val link = java.nio.file.Paths.get(dir, s"$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(base, s"$t.parquet"))
    }
    new java.io.FileOutputStream(new java.io.File(d, "_OK2")).close()
  }

  /** Write the 10×-amplified tables (documents, lineitem, orders) and
    * symlink every other table to the base SF dir. Idempotent. */
  private def buildX10(spark: SparkSession, base: String, dir: String): Unit = {
    val d = new java.io.File(dir)
    if (new java.io.File(d, "_OK").exists()) return
    d.mkdirs()
    val reps = spark.range(0, 10).select(col("id").as("rep"))

    amplifyDocs(spark, base, dir, nReps = 10, outParts = 32)

    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val ordKeys = spark.read.parquet(s"$base/orders.parquet")
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val maxOk = math.max(
      li.agg(max(col("l_orderkey"))).head().getLong(0), ordKeys) + 1
    li.crossJoin(broadcast(reps))
      .select((Seq((col("l_orderkey") + col("rep") * maxOk).as("l_orderkey")) ++
        li.columns.filterNot(_ == "l_orderkey").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val ord = spark.read.parquet(s"$base/orders.parquet")
    ord.crossJoin(broadcast(reps))
      .select((Seq((col("o_orderkey") + col("rep") * maxOk).as("o_orderkey")) ++
        ord.columns.filterNot(_ == "o_orderkey").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    // embeddings: re-id the vectors; labels (≙ IVF cells) keep their
    // cardinality so per-cell work grows linearly, like a real corpus
    // growing under a fixed coarse quantizer
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    emb.crossJoin(broadcast(reps))
      .select((Seq((col("vec_id") + col("rep") * maxVec).as("vec_id")) ++
        emb.columns.filterNot(_ == "vec_id").map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // events: re-id events and users — 10x the keyed-state groups, the
    // shape a sessionizer actually scales along
    val ev = spark.read.parquet(s"$base/events.parquet")
    val maxEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val maxUsr = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    ev.crossJoin(broadcast(reps))
      .select((Seq(
        (col("event_id") + col("rep") * maxEv).as("event_id"),
        (col("user_id") + col("rep") * maxUsr).as("user_id")) ++
        ev.columns.filterNot(c => c == "event_id" || c == "user_id")
          .map(col)): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val amplified = Seq("documents", "lineitem", "orders", "embeddings", "events")
    for (t <- Tables.all if !amplified.contains(t)) {
      val link = java.nio.file.Paths.get(dir, s"$t.parquet")
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(base, s"$t.parquet"))
    }
    new java.io.FileOutputStream(new java.io.File(d, "_OK")).close()
  }
}
