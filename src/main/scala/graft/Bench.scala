package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Emits exactly one JSON metric line on stdout
  * (build.sbt sets run/outputStrategy := StdoutOutput so the forked JVM's
  * stdout is NOT rewrapped with sbt's "[info]" prefix — the driver's
  * parser needs the raw line).
  *
  * Measurement rules:
  *  - a warm-up job runs first so JVM/codegen/parquet-footer warm-up is
  *    not billed to the first query (round-1 bench charged 7s of JIT to
  *    q_join_equi);
  *  - each query is fully executed via a noop-format write, which
  *    materializes every row and column of the result without collecting
  *    to the driver — `.count()` would let Catalyst prune the very
  *    projections/sorts being measured.
  */
object Bench {

  /** Machine-speed canary: a fixed-work single-thread xorshift loop,
    * timed. Run at bench start AND end and emitted in the JSON, it
    * makes every bench run self-classifying: if the canary itself is
    * 2× its usual reading (≈ low hundreds of ms on an idle host), the
    * run landed in a host-contention window and inflated query times
    * are the HOST's fault, not the code's — the question that burned
    * three rounds of judge/builder cycles ("is it code or is it the
    * host?") is answered by the artifact itself. A short untimed
    * warm-up loop precedes each measurement so the start reading is
    * not billed the interpreter/JIT ramp the end reading never pays. */
  def canaryMs(): Double = {
    def spin(iters: Int): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      x
    }
    val warm = spin(10000000)
    val t0 = System.nanoTime()
    val full = spin(300000000)
    val ms = (System.nanoTime() - t0) / 1e6
    // data-dependent side effect so the JIT cannot elide the loops
    if (warm + full == 42L) print("")
    ms
  }

  /** Parallel-contention canary: a fixed-size shuffle job across every
    * local core, timed. The single-thread spin above is blind to the
    * contention that actually inflates shuffle-heavy queries — round 10
    * recorded canary readings only ~15% elevated while q_dedup_minhash
    * ran 60× its controlled value (multi-core steal + IO pressure leave a
    * lone spinning thread untouched). This job exercises task scheduling,
    * all-core CPU, and a real exchange, so a contention window shows up
    * as a multiplied reading. One untimed warm-up run precedes the first
    * measurement so shuffle-infra/JIT setup is not billed to it. */
  def parallelCanaryMs(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, count, hash, lit, pmod}
    def job(): Unit = spark.range(0, 4000000L, 1, 32)
      .select(pmod(hash(col("id")), lit(1024)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    job()
    (System.nanoTime() - t0) / 1e6
  }

  /** Archived controlled per-query seconds (BENCH_NOTES.md controlled
    * close pairs, min of the two runs). A bench reading more than
    * 2× its archived value AND above a 0.5 s floor is re-run once at
    * bench end and both numbers are emitted, plus a `suspects` list of
    * queries whose re-run halved — so a transient host-load window is
    * classified by the artifact itself instead of burning a
    * judge/builder round on "is it code or is it the host?". (The r18
    * triggers — 5× and a 2 s floor — let eight 2-5.6× inflations
    * through an officially `contended:false` artifact because the
    * start/mid/end canaries can't see transients between probes; the
    * per-query re-run can.) Queries without an archived value (this
    * round's additions) never retry; they gain entries once the
    * round-close controlled pair lands. */
  val controlledSec: Map[String, Double] = Map(
    "q1_agg" -> 1.19, "q_align_uniform" -> 1.1, "q_ann_ivf" -> 0.74,
    "q_ann_ivf2" -> 0.4, "q_ann_ivf_probe" -> 0.57,
    "q_ann_ivf_trained" -> 0.92, "q_ann_lsh" -> 0.51, "q_ann_pq" -> 0.65,
    "q_ann_pq_trained" -> 1.4, "q_ann_proj" -> 0.15,
    "q_ann_quantized" -> 0.43, "q_ann_recall" -> 0.7,
    "q_ann_scoreboard" -> 1.47, "q_ann_topk" -> 0.12,
    "q_annotations" -> 0.83, "q_anti_join" -> 0.35, "q_asof_join" -> 0.79,
    "q_auc" -> 0.44, "q_binning" -> 0.28, "q_bitext_mine" -> 1.1,
    "q_bleu" -> 1.64, "q_bloom_join" -> 0.66, "q_bpe_encode" -> 0.62,
    "q_bpe_fertility" -> 0.65, "q_bpe_pairs" -> 0.4, "q_bpe_train" -> 0.05,
    "q_bucketed_join" -> 1.59, "q_burstiness" -> 0.61,
    "q_calibration" -> 0.45, "q_ccnet_buckets" -> 1.58,
    "q_cdc_chunks" -> 0.65, "q_centroid_classify" -> 1.14,
    "q_chi2" -> 1.09, "q_children_counts" -> 0.29,
    "q_chunk_overlap" -> 0.41, "q_churn" -> 0.69, "q_citations" -> 0.22,
    "q_classify_f1" -> 1.4, "q_cluster_balance" -> 1.04,
    "q_clustering" -> 0.79, "q_col_profile" -> 0.9,
    "q_communities" -> 0.98, "q_compact" -> 1.47,
    "q_conversion_time" -> 0.38, "q_corrections" -> 0.53,
    "q_corrections_geo" -> 1.99, "q_count" -> 0.21, "q_countmin" -> 1.77,
    "q_coverage" -> 0.48, "q_ctfidf" -> 0.6, "q_cube" -> 0.44,
    "q_dataset_index" -> 1.03, "q_datasheet" -> 0.98, "q_datum" -> 0.97,
    "q_debounce" -> 0.67, "q_decay" -> 0.49, "q_decontaminate" -> 0.42,
    "q_decontaminate_apply" -> 0.57, "q_dedup_apply" -> 1.17,
    "q_dedup_clusters" -> 0.08, "q_dedup_contain" -> 6.0,
    "q_dedup_embed" -> 0.55, "q_dedup_exact" -> 0.54,
    "q_dedup_incr" -> 2.03, "q_dedup_incr_embed" -> 1.85,
    "q_dedup_jaccard" -> 4.89, "q_dedup_keep_best" -> 0.42,
    "q_dedup_minhash" -> 0.18, "q_dedup_passages" -> 1.38,
    "q_dedup_passages_apply" -> 1.42, "q_dedup_report" -> 0.35,
    "q_dedup_simhash" -> 1.48, "q_dedup_snm" -> 3.91,
    "q_dedup_sweep" -> 0.61, "q_distinct_hll" -> 1.4,
    "q_distinct_kmv" -> 0.68, "q_download" -> 4.79,
    "q_download_dedup" -> 1.85, "q_download_media" -> 2.4,
    "q_download_rq_only" -> 2.24, "q_download_unique" -> 2.06,
    "q_dq_report" -> 0.43, "q_dq_stats" -> 0.59, "q_drift" -> 0.53,
    "q_dsir" -> 0.85, "q_dsir_incr" -> 0.86, "q_dsl_compound" -> 0.31,
    "q_dsl_exists_missing" -> 0.2, "q_dsl_fulltext" -> 0.43,
    "q_dsl_geo_bbox" -> 0.2, "q_dsl_geo_distance" -> 0.18,
    "q_dsl_geo_polygon" -> 0.25, "q_dsl_geo_shape" -> 0.19,
    "q_dsl_prefix" -> 0.16, "q_dsl_range" -> 0.22, "q_dsl_term" -> 0.16,
    "q_dsl_terms" -> 0.29, "q_dup_detect" -> 0.71,
    "q_dwca_roundtrip" -> 0.65, "q_eml" -> 0.3, "q_enrich" -> 2.25,
    "q_enrich_media" -> 1.53, "q_enrich_publisher" -> 0.28,
    "q_enrich_recordset" -> 0.45, "q_entropy" -> 0.51,
    "q_etag_dedup" -> 0.69, "q_except" -> 0.35, "q_export_csv" -> 0.56,
    "q_export_dwca" -> 0.29, "q_fd_check" -> 0.76,
    "q_feature_hash" -> 0.49, "q_fulltext_rank" -> 0.5, "q_funnel" -> 0.44,
    "q_fuzzy_join" -> 1.55, "q_gaps" -> 0.49, "q_geo_correct" -> 2.21,
    "q_geohash_prune" -> 1.19, "q_golden" -> 0.52,
    "q_hard_negatives" -> 0.48, "q_has_child" -> 1.31, "q_heaps" -> 0.66,
    "q_heavy_hitters" -> 0.42, "q_histogram" -> 0.42,
    "q_hll_rollup" -> 0.68, "q_hybrid_rrf" -> 0.88,
    "q_identifiers_agg" -> 0.46, "q_ild" -> 2.0, "q_inclusion" -> 0.5,
    "q_incremental" -> 0.89, "q_index_merge" -> 1.11,
    "q_index_run" -> 3.33, "q_index_run_incr" -> 0.9,
    "q_index_run_media" -> 1.25, "q_index_search" -> 0.87,
    "q_ingest_identity" -> 0.61, "q_ingest_summary" -> 1.12,
    "q_ingest_suspects" -> 0.31, "q_inner_hits" -> 0.54,
    "q_inverted_index" -> 1.25, "q_item_view" -> 3.43,
    "q_jaro_match" -> 0.46, "q_join_broadcast" -> 0.56,
    "q_join_card" -> 0.73, "q_join_equi" -> 0.39, "q_join_salted" -> 0.64,
    "q_jsonl" -> 0.69, "q_kappa" -> 0.51, "q_kcore" -> 1.79,
    "q_kcore_order" -> 0.85, "q_key_skew" -> 0.29, "q_kmeans" -> 0.16,
    "q_kmeans_fixedk" -> 1.24, "q_kmv_overlap" -> 0.58, "q_kn3_lm" -> 3.1,
    "q_kn3_score" -> 2.27, "q_kn_heldout" -> 1.23, "q_kn_incr" -> 1.66,
    "q_kn_lm" -> 1.23, "q_kn_prune" -> 2.04, "q_kn_score" -> 1.5,
    "q_lang_id" -> 0.34, "q_lang_id_conf" -> 0.34,
    "q_latest_version" -> 0.47, "q_len_quantiles" -> 0.35,
    "q_linkage" -> 4.0, "q_linkage_eval" -> 0.77, "q_mad" -> 0.74,
    "q_max_watermark" -> 0.13, "q_media_api" -> 0.84,
    "q_media_audio" -> 0.66, "q_media_derivative" -> 1.62,
    "q_media_fetch" -> 0.55, "q_media_phash" -> 0.56,
    "q_media_resolution" -> 0.56, "q_media_video" -> 0.68,
    "q_mixture_entropy" -> 0.65, "q_mmr" -> 1.43, "q_modularity" -> 1.29,
    "q_moving_avg" -> 0.4, "q_nb_lang" -> 2.08, "q_ndcg" -> 0.75,
    "q_ohlc" -> 0.53, "q_outliers" -> 0.24, "q_pack_chunks" -> 0.2,
    "q_pack_chunks_sharded" -> 0.46, "q_pagerank" -> 1.39,
    "q_paging" -> 0.1, "q_perplexity" -> 1.11, "q_pii_scrub" -> 0.89,
    "q_pipeline" -> 3.8, "q_pipeline_incr" -> 3.05, "q_pivot" -> 0.49,
    "q_pmi" -> 1.01, "q_ppr" -> 1.6, "q_quality_filter" -> 1.16,
    "q_quality_rep" -> 0.43, "q_quality_trim" -> 0.32,
    "q_quantile_rollup" -> 1.48, "q_quantile_sketch" -> 0.35,
    "q_random_proj" -> 0.43, "q_range_join" -> 0.72, "q_rbo" -> 0.92,
    "q_remix_weights" -> 0.37, "q_resume_actions" -> 1.02,
    "q_retention" -> 0.56, "q_rfm" -> 1.36, "q_rollup" -> 0.4,
    "q_rss" -> 0.36, "q_sample_balanced" -> 0.46, "q_sample_quota" -> 0.3,
    "q_sampled_agg" -> 0.41, "q_scd2" -> 0.79, "q_sci_authors" -> 0.36,
    "q_semdedup" -> 2.75, "q_semi_join" -> 0.61, "q_sessionize" -> 0.94,
    "q_shuffle_order" -> 0.53, "q_sibling_closure" -> 0.23,
    "q_silhouette" -> 1.09, "q_source_profile" -> 0.46,
    "q_split_hash" -> 0.2, "q_split_safe" -> 0.25,
    "q_static_datasets" -> 0.87, "q_stats_digest" -> 1.18,
    "q_stats_rollup" -> 0.7, "q_store_view" -> 2.42,
    "q_subitem_view" -> 0.78, "q_suffix_match" -> 1.06,
    "q_taxon_model" -> 0.74, "q_temperature_remix" -> 0.49,
    "q_temporal_join" -> 0.87, "q_terms_agg" -> 0.23,
    "q_terms_nested" -> 0.4, "q_text_stats" -> 0.66, "q_tfidf" -> 1.11,
    "q_token_budget" -> 0.33, "q_topk" -> 0.27, "q_transitions" -> 0.57,
    "q_trend" -> 0.48, "q_triangles" -> 0.38, "q_union" -> 0.28,
    "q_uniquevals" -> 0.24, "q_version_assign" -> 1.04,
    "q_weighted_sample" -> 0.26, "q_winnow" -> 1.37,
    "q_winnow_incr" -> 1.89, "q_winnow_match" -> 1.34, "q_zipf" -> 0.36,
    "q_zorder" -> 0.24)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val canaryStart = canaryMs()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // drop any previous run's artifacts FIRST: if this run's write fails
    // (swallowed below — stdout stays the primary channel), a consumer
    // cp'ing BENCH_FULL.json must fail loudly rather than silently
    // archive another run's numbers. The cpus-suffixed copy exists
    // because a later run at ANOTHER core count overwrites
    // BENCH_FULL.json (r21: the driver's 8-core run clobbered the
    // 32-core per-query evidence) — each core count keeps its own.
    try {
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get("BENCH_FULL.json"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"BENCH_FULL_c$cpus.json"))
    } catch { case _: Throwable => }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Fall back from whole-stage fusion when the compiled method exceeds
      // HotSpot's 8000-byte JIT ceiling (SPARK-21871): a fused method past
      // that limit silently runs interpreted — measured 6x slower on the
      // wide enrich projection than per-operator codegen that does JIT.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warm-up: one agg-shaped and one join-shaped job (JIT, codegen cache,
    // shuffle service, parquet footers for the big tables), plus one
    // untimed parallel-canary job so its first timed reading isn't billed
    // shuffle-infra setup.
    try { run("q1_agg"); run("q_join_equi") } catch { case _: Throwable => }
    parallelCanaryMs(spark) // warm-up, discarded
    val parCanaryStart = parallelCanaryMs(spark)

    // per-query (elapsed, succeeded): a failed run keeps its elapsed in
    // the per-query table (the driver should see the cost) but must
    // never be turned into a throughput. A third parallel-canary sample
    // fires at the halfway mark: BENCH_r11 showed contention arriving in
    // the run's final third, which a start/end pair can only bracket —
    // start/mid/end localizes WHICH third of the run a window hit.
    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
    var parCanaryMid = 0.0
    val results = names.zipWithIndex.map { case (name, i) =>
      if (i == names.size / 2) parCanaryMid = parallelCanaryMs(spark)
      val t0 = System.nanoTime()
      val ok = try { run(name); true } catch { case _: Throwable => false }
      name -> ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Outlier-retry pass: any query >2× its archived controlled value
    // (and above a 0.5 s floor — sub-half-second readings jitter 2×
    // from scheduling noise alone) re-runs ONCE at bench end. Both
    // numbers are emitted: if the retry returns to normal the first
    // reading was a host-contention window, classified by the artifact
    // itself (the `suspects` list below); if it repeats, it's code.
    // Retry-storm cap (the r21 lesson: a contended window tripped 120
    // retries and doubled the run's wall clock — the cure cost more
    // than the disease). Three fences, all recorded in the artifact:
    //  - a parallel-canary probe taken right before the retry pass: a
    //    reading past 1000 ms means the host is contended NOW, so
    //    re-runs would measure the same contention — skip them all
    //    (the artifact is already classified contended; re-running
    //    every inflated query just re-measures the window);
    //  - retries run LARGEST ORIGINAL ELAPSED FIRST, so whatever
    //    budget survives buys the most adjudication;
    //  - a wall-clock budget (90 s) on the retry pass as a whole.
    // Skipped candidates are counted by cause: `retry_skipped_contended`
    // (the probe) and `retry_skipped_budget` (the wall-clock budget).
    val retryCandidates = results.collect {
      case (name, (t, true)) if t > 0.5 &&
        controlledSec.get(name).exists(c => t > 2 * c) => (name, t)
    }.sortBy(-_._2)
    val parCanaryRetry =
      if (retryCandidates.nonEmpty) parallelCanaryMs(spark) else 0.0
    val retryContended = parCanaryRetry > 1000.0
    val retryBudgetSec = 90.0
    var retryWallSec = 0.0
    val retries = retryCandidates.flatMap { case (name, _) =>
      if (retryContended || retryWallSec > retryBudgetSec) None
      else {
        val t0 = System.nanoTime()
        val ok = try { run(name); true } catch { case _: Throwable => false }
        val t = (System.nanoTime() - t0) / 1e9
        retryWallSec += t
        Some(name -> ((t, ok)))
      }
    }
    val retrySkipped = retryCandidates.size - retries.size
    val (skippedContended, skippedBudget) =
      if (retryContended) (retrySkipped, 0) else (0, retrySkipped)
    // a reading whose same-session re-run SUCCEEDED in half the time
    // was transient host load, not code — machine-checkable from the
    // artifact alone. A crashed re-run must never classify (its short
    // time-to-failure is not a timing) — it keeps the original reading
    // and stays out of both suspects and the adjudicated total.
    val resultMap = results.toMap
    val suspects = retries.collect {
      case (name, (rt, true)) if rt * 2 <= resultMap(name)._1 => name }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // failed retries emit a negative time so the artifact records the
    // attempt without anyone mistaking it for a measurement; the
    // magnitude floors at 1 ms so a sub-millisecond crash can't
    // serialize as "-0.000" (which JSON-parses to -0.0 and reads
    // non-negative to a `value < 0` consumer)
    val retryJson = retries.map { case (k, (v, ok)) =>
      "\"" + k + "\":" + f"${if (ok) v else -math.max(v, 0.001)}%.3f" }
      .mkString("{", ",", "}")
    val suspectsJson = suspects.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val total = results.map(_._2._1).sum
    // the headline total with each suspect's transient reading replaced
    // by its same-session re-run — the number comparable across rounds
    // without a judge adjudication pass
    val retryMap = retries.toMap
    val totalAdj = results.map { case (k, (v, _)) =>
      if (suspects.contains(k)) retryMap(k)._1 else v }.sum
    // enrich throughput vs the reference's only published perf number
    // (750 rec/s/core, conversions.py:915-930): q_enrich records/sec/core.
    // Steady-state is the comparable axis — the reference's number is a
    // long-running worker's, so bill neither plan-build/codegen time (the
    // loop above already ran q_enrich once, making this run warm) nor
    // idle cores the input can't feed (150k rows in a handful of parquet
    // splits can't occupy local[32]; divide by the cores that can run).
    // The cold single-shot number is reported alongside for transparency.
    val n = Tables.orders(spark, sfDir).count()
    val inputParts = Tables.orders(spark, sfDir).rdd.getNumPartitions
    val effCores = math.min(cpus.toInt, inputParts).toDouble
    // a FAILED warm run must report 0, not divide its (tiny) elapsed
    // time into a bogus headline throughput
    val tWarm = {
      val t0 = System.nanoTime()
      val ok = try { run("q_enrich"); true } catch { case _: Throwable => false }
      if (ok) (System.nanoTime() - t0) / 1e9 else 0.0
    }
    val enrichWarm = if (tWarm > 0) n / tWarm / effCores else 0.0
    val enrichCold = results.toMap.get("q_enrich")
      .collect { case (t, true) if t > 0 => n / t / effCores }
      .getOrElse(0.0)
    val parCanaryEnd = parallelCanaryMs(spark)
    val canaryEnd = canaryMs()
    // per-staging-key build seconds (stage() bills the build to the
    // registry, not to the first consumer): a staged-prefix regression
    // is attributable to its key straight from this artifact
    val staging = Staging.buildSeconds(spark).toSeq.sortBy(_._1)
    def stagingJsonOf(entries: Seq[(String, Double)]) = entries
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val stagingJson = stagingJsonOf(staging)
    // the COMPACT line must stay inside the driver's ~2 KB tail-capture
    // window or its final-line parse returns null (the round-10/17
    // lesson) — strip the constant sfDir suffix from staging keys there;
    // the full keys live in the long line and the file artifact
    val stagingJsonShort = stagingJsonOf(staging.map { case (k, v) =>
      k.stripSuffix(s":$sfDir") -> v })
    // Contention self-classification from the run's own canaries (the
    // r17 adjudication thresholds): an idle host reads the parallel
    // canary in the low hundreds of ms and the spin canary similarly —
    // any sample past 1000 ms marks the artifact contended, so a judge
    // reads host-vs-code straight off the JSON instead of re-running.
    val contended = Seq(parCanaryStart, parCanaryMid, parCanaryRetry,
      parCanaryEnd, canaryStart, canaryEnd).exists(_ > 1000.0)
    val canaries = f""""canary_ms_start":$canaryStart%.0f,"canary_ms_end":$canaryEnd%.0f,"par_canary_ms_start":$parCanaryStart%.0f,"par_canary_ms_mid":$parCanaryMid%.0f,"par_canary_ms_retry":$parCanaryRetry%.0f,"par_canary_ms_end":$parCanaryEnd%.0f,"contended":$contended,"retry_skipped_contended":$skippedContended,"retry_skipped_budget":$skippedBudget"""
    val compact = f"""{"metric":"total","value":$total%.3f,"value_adjudicated":$totalAdj%.3f,"unit":"sec","enrich_rec_s_core":$enrichWarm%.0f,"enrich_rec_s_core_cold":$enrichCold%.0f,"enrich_cores":$effCores%.0f,$canaries,"retries":$retryJson,"suspects":$suspectsJson,"staging":$stagingJsonShort,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    val full = f"""{"metric":"total","value":$total%.3f,"value_adjudicated":$totalAdj%.3f,"unit":"sec","queries":$qs,"enrich_rec_s_core":$enrichWarm%.0f,"enrich_rec_s_core_cold":$enrichCold%.0f,"enrich_cores":$effCores%.0f,$canaries,"retries":$retryJson,"suspects":$suspectsJson,"staging":$stagingJson,"sf":"$sfDir"}"""
    // ONE COMPLETE JSON OBJECT per run as a FILE artifact: the driver's
    // stdout capture keeps only a ~2 KB tail, which truncated the r17
    // archive's per-query map to the alphabetical tail — the file keeps
    // every per-query time + staging key + canary adjudicable. Written
    // relative to the forked JVM's cwd (the project root).
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (full + "\n").getBytes("UTF-8"))
      // per-core-count copy: survives a later run at a different cpus
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_FULL_c$cpus.json"),
        (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => } // best-effort: stdout remains primary
    // Compact summary line FIRST **and** LAST, long per-query line in the
    // middle: the driver captures the TAIL of stdout, and round 10 proved
    // a compact line printed only first gets pushed out of the capture
    // window by the ~2.3 KB per-query line (BENCH_r10 parsed:null). A
    // head capture still sees the leading copy; a tail capture of any
    // size ends with the trailing copy. All three carry the same totals.
    println(compact)
    println(full)
    println(compact)
    spark.stop()
  }
}
