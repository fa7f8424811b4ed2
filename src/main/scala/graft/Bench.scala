package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

object Bench {

  /** Shuffle-write bytes of every task from construction on. [[quiesce]]
    * waits for the async listener bus to drain (value stable across 100 ms
    * polls, bounded spins) before reading: reading right after an action
    * would race events still in flight. */
  private final class ShuffleCounter(sc: SparkContext) {
    private val acc = new java.util.concurrent.atomic.AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    })
    def quiesce(): Long = {
      var last = -1L
      var spins = 0
      while (acc.get() != last && spins < 30) {
        last = acc.get(); Thread.sleep(100); spins += 1
      }
      acc.get()
    }
  }

  /** Classification of a query's time vs the committed baseline, decided
    * by BOTH wall-clock and shuffle-write bytes (VERDICT r15 #2). Bytes
    * are a property of the PLAN, not the host: a wall-time flag whose
    * bytes are flat vs baseline means the plan did the same work and the
    * clock drifted (the r10/r13/r15 recurring closing-run pattern); a
    * flag whose bytes also moved means the plan itself did more work and
    * an operator must be named. */
  sealed trait Flag
  object Flag {
    /** Within wall gate (or no baseline entry — new query). */
    case object Clean extends Flag
    /** Wall moved but shuffle bytes flat vs the bytes baseline: the plan
      * did identical work — host drift suspected, rerun rather than page. */
    case object DriftSuspect extends Flag
    /** Wall moved AND bytes moved — or no bytes baseline exists to
      * exonerate the wall flag (conservative until one is recorded). */
    case object Regressed extends Flag
  }

  /** Wall gate unchanged since r08: >1.3x the committed median AND >0.5 s
    * absolute (micro-query jitter over a 32-thread box must not page). */
  def wallMoved(wall: Double, base: Double): Boolean =
    wall > base * 1.3 && wall - base > 0.5

  /** Bytes gate: >10% deviation from the committed median IN EITHER
    * DIRECTION, and >1 MiB absolute. Increases are the obvious plan
    * regression; DECREASES matter too (r16 self-review) — a change that
    * trades shuffle for recompute (e.g. a join flipped to a broadcast
    * nested loop) moves wall UP while bytes drop, and a drop must not
    * read as "plan did identical work". The 10% band covers AQE
    * re-planning jitter (the r15 DEDUPSCALE5 protocol measured <=3-5%
    * pass-to-pass spread on a fixed plan); the absolute floor keeps
    * broadcast-only micro-queries (bytes ~0) from flagging on noise. */
  def bytesMoved(bytes: Long, base: Long): Boolean =
    (bytes > base * 1.10 || bytes < base * 0.90) &&
      math.abs(bytes - base) > (1L << 20)

  /** Documented AQE plan bimodality (DEDUPSCALE5_r16, VERDICT r16 #3):
    * queries whose plan flips run-to-run between two recorded byte
    * regimes. The committed [[baselineShuffle]] median is ONE mode; the
    * values here are the OTHER observed mode(s). A wall flag whose bytes
    * land within the 10% band of a recorded alternate mode is the same
    * documented plan re-chosen by AQE, not new work — it must classify
    * DriftSuspect (rerun), not Regressed (page). dedup_ngram: the
    * recount/meta leg flips broadcast-vs-shuffle at sf0.1 — 8.48 MB
    * (BENCH_LOCAL_r16_run1) vs the committed 16.57 MB large-plan median
    * (runs 2–3). The r17 heaps protocol's sf0.1 leg caught the SAME flip
    * on the other pair-leg sharers — dedup_cc_keepers 9.22 MB (p3) and
    * dedup_cc_star 9.24 MB (p1) vs their ~17.6 MB large-plan mode
    * (DEDUPSCALE5_r17 §4; the family shares one pair leg within 0.4%
    * bytes, so the flip is one plan choice, not three) — recorded at the
    * small-plan bytes observed there (local-cluster and local[8] modes
    * sit within the 10% band of each other: 9.07 vs 8.48 MB on ngram).
    * dedup_closure has never been observed to flip; it gets an entry
    * only when a run shows one. Entries here require a DEDUPSCALE5/
    * TRIAGE note naming the flipping leg; an unexplained second mode is
    * a plan bug, not a gate annotation. */
  val bimodalShuffle: Map[String, Seq[Long]] = Map(
    "dedup_ngram" -> Seq(8475842L),
    "dedup_cc_keepers" -> Seq(9219897L),
    "dedup_cc_star" -> Seq(9240477L),
    // the composed pipelines share the same flipping pair leg; the r18
    // closing runs landed on the SMALL mode (9.11 / 7.85 MB, all three
    // runs — now the committed medians) so the r17 LARGE-mode medians
    // (BENCH_LOCAL_r17.json) are the recorded alternates
    "pipeline_full" -> Seq(16395579L),
    "pipeline_curate" -> Seq(15401003L))

  /** Pure decision function (spec-pinned in BenchGateSpec): a deliberate
    * plan change (wall AND bytes up) classifies Regressed; a noisy rerun
    * (wall up, bytes flat) classifies DriftSuspect and is rerun, not
    * paged. Missing bytes on either side cannot exonerate — Regressed.
    * `altBytes` carries [[bimodalShuffle]]'s alternate plan modes: bytes
    * flat vs the baseline OR vs any recorded alternate mode count as
    * "same plan". */
  def classify(wall: Double, baseWall: Option[Double],
               bytes: Option[Long], baseBytes: Option[Long],
               altBytes: Seq[Long] = Nil): Flag =
    baseWall match {
      case None => Flag.Clean
      case Some(bw) if !wallMoved(wall, bw) => Flag.Clean
      case Some(_) =>
        (bytes, baseBytes) match {
          case (Some(b), Some(bb))
            if !bytesMoved(b, bb) || altBytes.exists(a => !bytesMoved(b, a)) =>
            Flag.DriftSuspect
          case _ => Flag.Regressed
        }
    }

  /** Round-18 regression baseline: per-query MEDIAN of THREE closing
    * quiet recordings (sf0.1, local[8], 188 queries each, 0 failures, 0
    * Regressed flags except the knownTrades-annotated embed_pq in one
    * run) — all three committed as BENCH_LOCAL_r18_run{1..3}.json, so the
    * baseline is reproducible from history. Identical-binary totals
    * 236.8 / 264.4 / 279.3 s (1.18x host wall spread, bytes bit-flat);
    * median sum 254.6 s vs the r17 committed 308.3 s — the r18
    * optimization round's net effect (OPTIMIZATION_r18.md: compiled
    * nearest-centroid assignment, overlapped index-store writes, fused
    * rouge2, literal BPE replaces). INTENDED bytes moves this round (the
    * assignment exchanges are gone): sim_pqindex_* 5.19→1.15 MB,
    * sim_pq_adc 4.28→0.64 MB, sim_ivfpq_topk 3.69→0.89 MB, sim_ivf_topk
    * 1.44→0.25 MB, embed_pq 4.55→1.09 MB; pipeline_full / pipeline_curate
    * additionally recorded on their SMALL plan mode this time (all three
    * runs; the r17 large-mode values are in [[bimodalShuffle]]).
    * Flagged slowdowns are re-measured TWICE before being reported
    * (below). sim_pqindex_* / bm25_index_* / bm25_mlt* / dedup_cdc_admit
    * / cdc_index_forget / sim_pq_adc time a FULL index lifecycle per run
    * (train/build + partitioned write + probe) — the build/serve split
    * is emitted separately as `index_split`. */
  val baselinePrev: Map[String, Double] = Map(
    "agg_approx" -> 2.710, "agg_approx_pct" -> 2.569,
    "agg_hll_cube" -> 0.850, "agg_quantile_cube" -> 0.976,
    "agg_stats" -> 1.561, "asof_native" -> 1.463,
    "asof_signup" -> 1.746, "bm25_index_forget" -> 6.840,
    "bm25_index_search" -> 3.421, "bm25_mlt" -> 3.624,
    "bm25_mlt_batch" -> 3.998, "bm25_search" -> 0.834,
    "bpe_encode" -> 2.981, "bpe_merges" -> 0.804,
    "cdc_index_forget" -> 4.252, "clf_auc" -> 1.525,
    "clf_calibration" -> 1.185, "clf_pr_curve" -> 1.148,
    "clf_train" -> 2.017, "cluster_topics" -> 2.529,
    "contamination_report" -> 1.066, "corpus_datasheet" -> 1.150,
    "corpus_diff" -> 0.396, "corpus_report" -> 0.510,
    "curate_blocklist" -> 0.705, "curate_domain_cap" -> 0.516,
    "curate_threshold_sweep" -> 0.871, "curate_url_dedup" -> 1.520,
    "decontaminate" -> 0.815, "decontaminate_bloom" -> 0.844,
    "decontaminate_index" -> 1.096, "dedup_admit" -> 3.756,
    "dedup_cc_keepers" -> 3.507, "dedup_cc_star" -> 4.194,
    "dedup_cdc" -> 1.717, "dedup_cdc_admit" -> 3.506,
    "dedup_cdc_rewrite" -> 1.959, "dedup_closure" -> 3.592,
    "dedup_containment" -> 2.132, "dedup_delta" -> 2.633,
    "dedup_exact" -> 0.389, "dedup_fuzzy_verify" -> 1.168,
    "dedup_index_forget" -> 2.795, "dedup_intradoc" -> 0.863,
    "dedup_minhash" -> 1.378, "dedup_ngram" -> 2.666,
    "dedup_ngram_keepers" -> 2.396, "dedup_prefix" -> 0.632,
    "dedup_quality_keepers" -> 3.890, "dedup_simhash" -> 0.413,
    "dedup_simhash_pairs" -> 1.076, "dedup_spans" -> 0.931,
    "dedup_spans_keepers" -> 1.133, "dedup_winnow_pairs" -> 1.817,
    "doc_chunks" -> 0.532, "doc_len_histogram" -> 0.400,
    "dsir_weights" -> 2.362, "embed_kmeans" -> 0.998,
    "embed_mmr" -> 1.645, "embed_neardup" -> 3.165,
    "embed_outliers" -> 1.579, "embed_pq" -> 0.913,
    "embed_project" -> 1.093, "embed_prototypes" -> 1.295,
    "embed_quantize" -> 0.530, "eval_rouge2" -> 2.523,
    "mm_decode" -> 0.448, "mm_decode_image" -> 0.294,
    "mm_decode_wav" -> 0.300, "mm_frames" -> 0.354,
    "mm_resize" -> 0.267, "mm_resize_image" -> 0.194,
    "o10_escape" -> 1.115, "o11_o13_route" -> 2.725,
    "o12_optout_dim" -> 0.922, "o14_format_values" -> 1.752,
    "o3_count_range" -> 0.177, "o4_o5_extract" -> 0.990,
    "o6_o7_anonymize" -> 1.083, "o8_o9_statement_json" -> 1.365,
    "o8_withfield" -> 1.300, "pack_chat_template" -> 1.230,
    "pack_curriculum" -> 0.502, "pack_fim" -> 0.422,
    "pack_length_buckets" -> 0.453, "pack_shards" -> 0.529,
    "pack_shuffled" -> 0.385, "pack_window_map" -> 0.389,
    "pack_windows" -> 0.344, "pipeline_admit" -> 1.440,
    "pipeline_curate" -> 3.794, "pipeline_full" -> 6.734,
    "pipeline_pack" -> 1.060, "pipeline_web_ingest" -> 2.170,
    "privacy_k_anon" -> 0.378, "q10_cube" -> 0.559,
    "q11_full_outer" -> 0.404, "q12_corr_subquery" -> 1.044,
    "q13_grouping_sets" -> 0.462, "q14_range_frame" -> 0.833,
    "q15_explode" -> 0.349, "q16_anti" -> 0.560,
    "q17_window_nav" -> 0.702, "q18_month_series" -> 0.489,
    "q19_sorted_collect" -> 0.357, "q1_agg" -> 0.632,
    "q20_cond_agg" -> 0.404, "q21_range_join" -> 0.695,
    "q22_map_agg" -> 0.541, "q23_corr" -> 0.410,
    "q24_null_safe" -> 0.416, "q25_array_ops" -> 0.616,
    "q26_rank_dist" -> 1.051, "q27_datetime" -> 0.438,
    "q28_regr" -> 0.438, "q29_mode" -> 0.390,
    "q30_cum_distinct" -> 0.721, "q31_variant" -> 0.720,
    "q32_lateral" -> 1.034, "q33_gapfill" -> 0.439,
    "q34_interval_merge" -> 0.916, "q35_unpivot" -> 0.382,
    "q36_try" -> 2.156, "q37_scd2" -> 0.789,
    "q38_retention" -> 0.707, "q39_funnel" -> 0.939,
    "q3_topk" -> 0.863, "q40_transitions" -> 0.837,
    "q41_twa" -> 0.848, "q42_dau" -> 0.890,
    "q5_multijoin" -> 1.219, "q6_rollup" -> 0.649,
    "q7_percentile" -> 2.187, "q8_pivot" -> 0.517,
    "q9_exists" -> 0.538, "sample_epochs" -> 0.383,
    "sample_mix" -> 0.564, "sample_per_group" -> 0.341,
    "sample_stratified" -> 0.214, "sample_temperature" -> 0.293,
    "sample_weighted" -> 0.360, "search_rrf" -> 1.131,
    "semdedup_keepers" -> 1.321, "set_except" -> 0.457,
    "set_intersect" -> 0.394, "shard_stats" -> 0.354,
    "sim_ivf_topk" -> 2.170, "sim_ivfpq_topk" -> 3.484,
    "sim_lsh_banded" -> 1.869, "sim_lsh_bucket" -> 0.749,
    "sim_pq_adc" -> 2.997, "sim_pqindex_forget" -> 7.300,
    "sim_pqindex_rescored" -> 7.643, "sim_pqindex_topk" -> 6.327,
    "sim_topk" -> 0.476, "skew_join_agg" -> 0.790,
    "split_assign" -> 0.313, "split_leakage" -> 2.777,
    "text_boilerplate_lines" -> 0.858, "text_card_redact" -> 0.427,
    "text_clf_score" -> 1.116, "text_cms_topk" -> 0.790,
    "text_collocations" -> 1.202, "text_entropy" -> 1.227,
    "text_fingerprint" -> 0.237, "text_fix_encoding" -> 0.564,
    "text_gopher_gates" -> 0.745, "text_hash_vec" -> 0.818,
    "text_html_extract" -> 1.032, "text_kn_heldout" -> 1.864,
    "text_kn_score" -> 2.189, "text_langid" -> 0.255,
    "text_lm_score" -> 1.856, "text_novelty" -> 1.323,
    "text_pii_redact" -> 0.458, "text_quality" -> 0.563,
    "text_quality_calibrated" -> 0.982, "text_repetition" -> 1.412,
    "text_tok_freq" -> 0.715, "text_tokens" -> 0.389,
    "text_tokens_re" -> 0.879, "text_top_tokens" -> 0.230,
    "text_winnow" -> 0.620, "tfidf_top_terms" -> 1.343,
    "w1_topn_per_group" -> 0.774, "w2_running_sum" -> 0.637,
    "w3_sessionize" -> 1.057, "w4_ntile" -> 0.983)

  /** Per-query shuffle-write BYTES baseline (r16, VERDICT r15 #2):
    * median of the same three closing quiet recordings that produce
    * [[baselinePrev]] (BENCH_LOCAL_r17_run{1..5}.json `shuffle_write`
    * maps, folded by tools/baseline_swap.py). Used by [[classify]] to
    * split wall-time flags into Regressed (bytes moved too — the plan
    * did more work) vs DriftSuspect (bytes flat — host drift, rerun).
    * An empty map would make every wall flag conservatively classify
    * Regressed. Pass-to-pass these are near-bit-stable (the TRIAGE_r16
    * A/Bs measured zero spread at fixed config); the 10% gate band covers
    * the residual AQE jitter. */
  val baselineShuffle: Map[String, Long] = Map(
    "agg_approx" -> 3095847L, "agg_approx_pct" -> 5596751L,
    "agg_hll_cube" -> 428781L, "agg_quantile_cube" -> 553839L,
    "agg_stats" -> 9424233L, "asof_native" -> 2855566L,
    "asof_signup" -> 3100494L, "bm25_index_forget" -> 6058114L,
    "bm25_index_search" -> 6067025L, "bm25_mlt" -> 6231585L,
    "bm25_mlt_batch" -> 5936180L, "bm25_search" -> 80L,
    "bpe_encode" -> 865662L, "bpe_merges" -> 18995L,
    "cdc_index_forget" -> 362341L, "clf_auc" -> 794663L,
    "clf_calibration" -> 763775L, "clf_pr_curve" -> 794722L,
    "clf_train" -> 3761959L, "cluster_topics" -> 127445L,
    "contamination_report" -> 32480L, "corpus_datasheet" -> 325398L,
    "corpus_diff" -> 1060440L, "corpus_report" -> 137167L,
    "curate_blocklist" -> 428750L, "curate_domain_cap" -> 130475L,
    "curate_threshold_sweep" -> 2729L, "curate_url_dedup" -> 111658L,
    "decontaminate" -> 49510L, "decontaminate_bloom" -> 100153L,
    "decontaminate_index" -> 101998L, "dedup_admit" -> 2863655L,
    "dedup_cc_keepers" -> 16697826L, "dedup_cc_star" -> 16721750L,
    "dedup_cdc" -> 792079L, "dedup_cdc_admit" -> 359610L,
    "dedup_cdc_rewrite" -> 2370766L, "dedup_closure" -> 16584459L,
    "dedup_containment" -> 16570714L, "dedup_delta" -> 2355285L,
    "dedup_exact" -> 689453L, "dedup_fuzzy_verify" -> 23150L,
    "dedup_index_forget" -> 2356721L, "dedup_intradoc" -> 860532L,
    "dedup_minhash" -> 1575521L, "dedup_ngram" -> 16571368L,
    "dedup_ngram_keepers" -> 16666362L, "dedup_prefix" -> 18952L,
    "dedup_quality_keepers" -> 16845414L, "dedup_simhash" -> 67773L,
    "dedup_simhash_pairs" -> 21428L, "dedup_spans" -> 850855L,
    "dedup_spans_keepers" -> 2687353L, "dedup_winnow_pairs" -> 2856783L,
    "doc_chunks" -> 355726L, "doc_len_histogram" -> 1142L,
    "dsir_weights" -> 2221515L, "embed_kmeans" -> 84414L,
    "embed_mmr" -> 41009L, "embed_neardup" -> 15716L,
    "embed_outliers" -> 194731L, "embed_pq" -> 1089762L,
    "embed_project" -> 423584L, "embed_prototypes" -> 223306L,
    "embed_quantize" -> 380937L, "eval_rouge2" -> 6797683L,
    "mm_decode" -> 108538L, "mm_decode_image" -> 100374L,
    "mm_decode_wav" -> 100503L, "mm_frames" -> 139869L,
    "mm_resize" -> 80050L, "mm_resize_image" -> 113878L,
    "o10_escape" -> 1027341L, "o11_o13_route" -> 1217396L,
    "o12_optout_dim" -> 245361L, "o14_format_values" -> 2566035L,
    "o3_count_range" -> 56L, "o4_o5_extract" -> 2565724L,
    "o6_o7_anonymize" -> 251489L, "o8_o9_statement_json" -> 1876091L,
    "o8_withfield" -> 1875971L, "pack_chat_template" -> 3267678L,
    "pack_curriculum" -> 217881L, "pack_fim" -> 930685L,
    "pack_length_buckets" -> 62224L, "pack_shards" -> 51403L,
    "pack_shuffled" -> 234070L, "pack_window_map" -> 135689L,
    "pack_windows" -> 183431L, "pipeline_admit" -> 102247L,
    "pipeline_curate" -> 7851406L, "pipeline_full" -> 9105917L,
    "pipeline_pack" -> 338896L, "pipeline_web_ingest" -> 1908857L,
    "privacy_k_anon" -> 123315L, "q10_cube" -> 2536L,
    "q11_full_outer" -> 19397L, "q12_corr_subquery" -> 1496210L,
    "q13_grouping_sets" -> 1260L, "q14_range_frame" -> 3190560L,
    "q15_explode" -> 1500L, "q16_anti" -> 1019320L,
    "q17_window_nav" -> 3716631L, "q18_month_series" -> 3215L,
    "q19_sorted_collect" -> 160083L, "q1_agg" -> 1392L,
    "q20_cond_agg" -> 853L, "q21_range_join" -> 1862L,
    "q22_map_agg" -> 223499L, "q23_corr" -> 895L,
    "q24_null_safe" -> 1572L, "q25_array_ops" -> 143365L,
    "q26_rank_dist" -> 1969756L, "q27_datetime" -> 531537L,
    "q28_regr" -> 935L, "q29_mode" -> 1296L,
    "q30_cum_distinct" -> 142305L, "q31_variant" -> 731L,
    "q32_lateral" -> 6190401L, "q33_gapfill" -> 3078L,
    "q34_interval_merge" -> 2663275L, "q35_unpivot" -> 380L,
    "q36_try" -> 758L, "q37_scd2" -> 3304397L,
    "q38_retention" -> 116115L, "q39_funnel" -> 74763L,
    "q3_topk" -> 460556L, "q40_transitions" -> 2071860L,
    "q41_twa" -> 1898651L, "q42_dau" -> 883491L,
    "q5_multijoin" -> 1911L, "q6_rollup" -> 1367L,
    "q7_percentile" -> 5435113L, "q8_pivot" -> 206698L,
    "q9_exists" -> 796215L, "sample_epochs" -> 1026L,
    "sample_mix" -> 44063L, "sample_per_group" -> 1530L,
    "sample_stratified" -> 8862L, "sample_temperature" -> 958L,
    "sample_weighted" -> 34656L, "search_rrf" -> 3072L,
    "semdedup_keepers" -> 122591L, "set_except" -> 14869L,
    "set_intersect" -> 27906L, "shard_stats" -> 4126L,
    "sim_ivf_topk" -> 252478L, "sim_ivfpq_topk" -> 892490L,
    "sim_lsh_banded" -> 2460591L, "sim_lsh_bucket" -> 939556L,
    "sim_pq_adc" -> 644117L, "sim_pqindex_forget" -> 1149016L,
    "sim_pqindex_rescored" -> 1147257L, "sim_pqindex_topk" -> 1146667L,
    "sim_topk" -> 2447L, "skew_join_agg" -> 24325L,
    "split_assign" -> 494L, "split_leakage" -> 2684685L,
    "text_boilerplate_lines" -> 1525537L, "text_card_redact" -> 276227L,
    "text_clf_score" -> 780354L, "text_cms_topk" -> 8224L,
    "text_collocations" -> 47189L, "text_entropy" -> 1502055L,
    "text_fingerprint" -> 52245L, "text_fix_encoding" -> 419412L,
    "text_gopher_gates" -> 1802501L, "text_hash_vec" -> 1357903L,
    "text_html_extract" -> 94930L, "text_kn_heldout" -> 108702L,
    "text_kn_score" -> 219472L, "text_langid" -> 49805L,
    "text_lm_score" -> 171833L, "text_novelty" -> 635417L,
    "text_pii_redact" -> 281102L, "text_quality" -> 57010L,
    "text_quality_calibrated" -> 39322L, "text_repetition" -> 5725697L,
    "text_tok_freq" -> 134630L, "text_tokens" -> 71153L,
    "text_tokens_re" -> 80669L, "text_top_tokens" -> 991L,
    "text_winnow" -> 1212221L, "tfidf_top_terms" -> 3291125L,
    "w1_topn_per_group" -> 1463L, "w2_running_sum" -> 2751618L,
    "w3_sessionize" -> 3085058L, "w4_ntile" -> 1984617L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    /** Force FULL materialization of every output column. A bare `count()`
      * lets Catalyst prune all computed columns (a narrow transform query
      * would benchmark as a parquet row count); the noop sink executes the
      * complete plan and discards rows. */
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Per-query shuffle-write bytes — ALWAYS recorded since r16 (VERDICT
    // r15 #2): the regression gate needs them to split wall flags into
    // Regressed vs DriftSuspect, so every bench run (driver rounds and
    // BENCH_LOCAL baseline recordings alike) carries a bytes map. Bytes
    // are a property of the PLAN: flat bytes + moved wall = host drift;
    // moved bytes = the plan itself did more work. The listener quiesce
    // runs BETWEEN queries (outside the timed window), one snapshot per
    // boundary, so recording does not perturb the gated timings.
    // SPARK_GRAFT_SHUFFLE=0 opts out (diagnostic escape hatch only).
    val recordShuffle = !sys.env.get("SPARK_GRAFT_SHUFFLE").contains("0")
    val shuffleCounter =
      if (recordShuffle) Some(new ShuffleCounter(spark.sparkContext)) else None
    def shuffleSnapshot(): Long = shuffleCounter.fold(0L)(_.quiesce())
    val shuffleByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    // one untimed warmup: JVM/codegen/parquet-footer caches
    try run("o3_count_range") catch { case _: Throwable => () }

    // optional args = subset of query names (dev iteration); default all
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    var failed = List.empty[String]
    /** One timed run: (seconds, succeeded). */
    def timeOnce(name: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { run(name); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    var prevSnap = if (recordShuffle) shuffleSnapshot() else 0L
    val firstPass = names.map { name =>
      val (t, ok) = timeOnce(name)
      if (!ok) failed ::= name
      if (recordShuffle) {
        val snap = shuffleSnapshot()
        shuffleByQuery(name) = snap - prevSnap
        prevSnap = snap
      }
      name -> t
    }
    // The baseline (and thus the rerun/regression protocol) is only
    // meaningful on the sf0.1 recording box; scale probes at other SFs set
    // this to skip re-measurement — there every heavy query trips the
    // sf0.1 thresholds by design and the reruns would triple the run.
    val noRerun = sys.env.contains("SPARK_GRAFT_NO_RERUN")
    /** Bytes-aware flag (VERDICT r15 #2): wall gate decides WHETHER the
      * query is flagged; the recorded shuffle bytes vs [[baselineShuffle]]
      * decide WHAT KIND (Regressed vs DriftSuspect). Reruns apply to both
      * kinds — a real regression reproduces, drift usually doesn't. */
    def flagOf(k: String, v: Double): Flag =
      if (noRerun) Flag.Clean
      else classify(v, baselinePrev.get(k), shuffleByQuery.get(k),
        baselineShuffle.get(k), bimodalShuffle.getOrElse(k, Nil))
    def regressed(k: String, v: Double): Boolean = flagOf(k, v) != Flag.Clean
    // Re-measure any flagged outlier up to TWICE and keep the min: a
    // transient burst of contention on the bench box (observed in the
    // driver's r02 recording — 25 s for a query that re-measures at 1.7 s
    // on the same commit; r06's whole run was ~2.8× a clean rerun of the
    // identical binary) must not masquerade as a code regression. A real
    // regression reproduces on BOTH immediate re-runs; reruns are listed so
    // the re-measurement is visible in the output. A rerun that THROWS is
    // discarded outright — it must neither mark the (successful) query
    // failed nor contribute its time-to-failure as a fake fast min.
    var reran = List.empty[String]
    val results = firstPass.map { case (k, v) =>
      var best = v
      var tries = 0
      while (regressed(k, best) && !failed.contains(k) && tries < 2) {
        if (tries == 0) reran ::= k
        val (t2, ok2) = timeOnce(k)
        if (ok2) best = math.min(best, t2)
        tries += 1
      }
      k -> best
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a query that threw is recorded with time-to-failure — mark it so the
    // total can't silently understate cost
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reranJson = reran.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // >1.3× vs the previous round's baseline (and >0.5 s absolute, so
    // micro-query jitter over a 32-thread local cluster doesn't page
    // anyone), SPLIT by the bytes evidence (r16): `regressions_vs_prev`
    // carries only flags whose shuffle bytes also moved (or that have no
    // bytes baseline to exonerate them) — the plan did more work, name
    // the operator. `drift_suspect` carries wall-only flags whose bytes
    // are flat vs baseline — same plan, drifting clock; rerun, don't page.
    // Locale.ROOT: a comma decimal separator would corrupt the JSON.
    def ratioEntry(k: String, v: Double): String =
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", v / baselinePrev(k))
    val regressions = results.collect {
      case (k, v) if flagOf(k, v) == Flag.Regressed => ratioEntry(k, v)
    }.mkString("{", ",", "}")
    val driftSuspects = results.collect {
      case (k, v) if flagOf(k, v) == Flag.DriftSuspect => ratioEntry(k, v)
    }.mkString("{", ",", "}")
    // Known-trade annotations: when a flagged query's slowdown is a
    // DELIBERATE trade shipped this round, say so in the artifact instead
    // of leaving an untriaged flag (the round-5/6 process bug). Unknown
    // flags stay unannotated — that absence IS the page.
    val pqTrade = "deliberate r11 trade: PQ geometry moved 8x8 -> 32x2 " +
      "subspaces after the measured recall curve (tools.RecallCurve, " +
      "SCALING.md r11) showed raw ADC recall@5 is quantization-limited at " +
      "8x8 (~0.20, flat in nprobe) and crosses the 0.5 bar only at 32x2 " +
      "(0.58-0.68 at sf0.1); the ADC join/pivot now carries 4x the code " +
      "rows per candidate"
    // r16 triage of the r15 driver doublings (pipeline_full 2.21x,
    // sim_pqindex_forget 1.69x — VERDICT r15 #1): same-commit evidence,
    // fresh this round. (a) In-suite quiet local[8] full run: 8.12 s
    // (1.10x) / 10.07 s (1.06x) — no regression in the plan's regime.
    // (b) 5-pass fresh-JVM subset A/B at local[32]: per-query shuffle
    // bytes BIT-IDENTICAL across all passes (20.811 MB / 5.885 MB every
    // pass) while wall spread 21.5-36.9 s / 19.9-71.7 s — the plan did the
    // same work every time; only the clock moved. (c) Dedicated-subset
    // runs read these composed queries ~2.2x above their in-suite medians
    // even quiet (18-21 s vs 8.1 s) — the same subset-vs-in-suite JIT
    // effect the r15 bm25_mlt re-recording measured. The r15 driver
    // doubling did not reproduce on the same tree in-suite; from r16 the
    // always-on bytes map classifies such wall-only flags as
    // drift_suspect automatically. TRIAGE_r16.md.
    val r16DriftTriage = "r15 driver doubling triaged with r16 evidence " +
      "(TRIAGE_r16.md): in-suite quiet rerun 1.06-1.10x of baseline; 5-pass " +
      "same-commit A/B shuffle bytes bit-identical across passes while wall " +
      "spread up to 3.6x - wall-only movement, plan work constant; " +
      "bytes-aware gate now classifies this as drift_suspect"
    val dedupLayoutTrade = "r13 layout trade: DedupIndex gained a 16-way " +
      "doc-hash partition level (bands 4->64 dirs, shingles 1->16) so " +
      "compaction is partition-scoped instead of a full index rewrite " +
      "(CompactionSpec/SCALING.md r13); measured overhead shrinks with " +
      "scale - +16-37% at sf0.1, 7-12% at sf1 (DEDUPAB_r14.jsonl A/B) - " +
      "and DocBuckets is a by-corpus-size knob; compact cost drops from " +
      "O(index) to O(tombstoned share)"
    val r18AssignTrade = "deliberate r18 trade: the PQ/Lloyd assignment is " +
      "now a compiled per-row argmin over a driver-collected codebook " +
      "(graft.functions.NearestBookCode) instead of a broadcast-join + " +
      "min_by aggregate — training adds two bounded model-to-driver " +
      "collects (seed books, trained codebooks), a fixed ~0.3-0.7 s of " +
      "driver round-trips that dominates THIS sub-second query while the " +
      "same change cuts every sim_pqindex_*/sim_ivfpq/sim_pq_adc lifecycle " +
      "30-50% (OPTIMIZATION_r18.md)"
    val knownTrades = Map(
      "embed_pq" -> (pqTrade + "; ALSO " + r18AssignTrade),
      "sim_pq_adc" -> pqTrade,
      "sim_pqindex_rescored" -> pqTrade,
      "sim_ivf_topk" -> ("coarse quantizer is now TRAINED (3-round spherical Lloyd) " +
        "instead of an every-Nth pick: +2 corpus passes at index build for recall@10 " +
        "0.658 vs 0.544 at identical candidate cost (IvfRecallSpec/SCALING.md)"),
      "sim_ivfpq_topk" -> ("trained coarse quantizer (see sim_ivf_topk) AND " + pqTrade),
      "sim_pqindex_topk" -> ("times a FULL index lifecycle per run (train + " +
        "partitioned-parquet write + pruned probe) — serving cost is the probe " +
        "alone; the build amortizes over queries (PqIndexSpec/SCALING.md); ALSO " + pqTrade),
      "bm25_index_search" -> ("times a FULL index lifecycle per run (postings " +
        "build + 64-bucket write + pruned probe) — serving cost is the probe " +
        "alone; the build amortizes over queries (SearchIndexSpec/SCALING.md)"),
      "dedup_minhash" -> ("r16 triage, RULED IN (TRIAGE_r16.md): a binary A/B " +
        "(pre-cap 1ff9d92^ vs cap) attributes the r15 median move " +
        "0.99->1.49 s to the bandedCandidates population-cap aggregate - " +
        "its per-band population count adds 0.022->1.576 MB shuffle at " +
        "sf0.1; deliberate trade (sf3 candidate mass -37%, verified pairs " +
        "-0.02%). Current in-suite median 1.51 s = 1.01x of the r15 " +
        "baseline that already carries it"),
      "pipeline_full" -> r16DriftTriage,
      "sim_pqindex_forget" -> r16DriftTriage,
      "clf_train" -> r16DriftTriage,
      "text_lm_score" -> r16DriftTriage,
      "dedup_delta" -> dedupLayoutTrade,
      "dedup_admit" -> dedupLayoutTrade,
      "dedup_index_forget" -> dedupLayoutTrade)
    val notes = results.collect {
      case (k, v) if regressed(k, v) && knownTrades.contains(k) =>
        "\"" + k + "\":\"" + knownTrades(k) + "\""
    }.mkString("{", ",", "}")
    def f3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Build/serve split for the index-lifecycle queries (VERDICT r10 #6):
    // their `results` rows above time the full lifecycle and remain the
    // regression-gated truth; this extra pass separates build (train +
    // partitioned index write) from serve (the pruned probe), so a future
    // regression on one of these rows localizes immediately. Additive
    // info — deliberately NOT part of `value`.
    val indexSplit = graft.queries.AnalyticsQueries.indexLifecycles.toSeq
      .filter { case (name, _) => names.contains(name) } // skip on dev subsets
      .sortBy(_._1).flatMap { case (name, mk) =>
        try {
          val (build, serve) = mk(spark, sfDir)
          val t0 = System.nanoTime(); build()
          val tb = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          serve().write.format("noop").mode("overwrite").save()
          val ts = (System.nanoTime() - t1) / 1e9
          Some(name -> ((tb, ts)))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] index_split $name FAILED: ${e.getMessage}")
          None
        }
      }
    val splitJson = indexSplit.map { case (k, (b, s)) =>
      "\"" + k + "\":{\"build\":" + f3(b) + ",\"serve\":" + f3(s) + "}"
    }.mkString("{", ",", "}")
    val shuffleJson =
      if (shuffleByQuery.isEmpty) ""
      else shuffleByQuery.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","shuffle_write":{""", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failedJson,"reran":$reranJson,"regressions_vs_prev":$regressions,""" +
      s""""drift_suspect":$driftSuspects,""" +
      s""""regression_notes":$notes,"index_split":$splitJson$shuffleJson,"sf":"$sfDir"}"""
    // The FULL per-query map (~4 KB for 180 queries) goes to a FILE, never
    // to stdout: the harness that records BENCH_r{N}.json keeps only the
    // LAST 2000 chars of stdout and json-parses what it finds there, so a
    // 4 KB line can never fit (r06–r10 shipped "parsed": null). Default
    // path keeps the artifact discoverable without env plumbing.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_map.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), line + "\n"): Unit
    // Exactly ONE JSON object on stdout, as the FINAL line of the process
    // (after spark.stop(), so no shutdown chatter can follow it on stdout;
    // build.sbt sets `run / outputStrategy := StdoutOutput` so sbt does not
    // prepend "[info] ", and suppresses the trailing "[success] Total time"
    // line). The harness keeps only the LAST 2000 chars of stdout and
    // json-parses what it finds there, so the compact line must FIT that
    // window (VERDICT r11 #3 — the r11 line embedded ~420-char note BODIES
    // and overflowed it). Budget: note KEYS only (bodies live in the full
    // map), 10 slowest, and a hard <1500-char guard that degrades to a
    // minimal line rather than ever overflowing.
    val noteKeys = results.collect {
      case (k, v) if regressed(k, v) && knownTrades.contains(k) => k
    }.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val nRegressed = results.count { case (k, v) => regressed(k, v) }
    // Staged degradation (ADVICE r12): shed diagnostics one block at a time
    // — slowest map first, then index_split, then note keys — so a line
    // that creeps past the budget loses the biggest optional block, not
    // every diagnostic at once. The minimal line is the last resort only.
    def assemble(withSlowest: Boolean, withSplit: Boolean, withNotes: Boolean): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""regressions_vs_prev":$regressions,"drift_suspect":$driftSuspects,""" +
        (if (withNotes) s""""regression_note_keys":$noteKeys,""" else "") +
        (if (withSplit) s""""index_split":$splitJson,""" else "") +
        (if (withSlowest) s""""slowest":$top,""" else "") +
        s""""full_map":"$fullPath","sf":"$sfDir"}"""
    val compactMin = s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""n_regressions":$nRegressed,"full_map":"$fullPath","sf":"$sfDir"}"""
    val compact = Seq(
      assemble(withSlowest = true, withSplit = true, withNotes = true),
      assemble(withSlowest = false, withSplit = true, withNotes = true),
      assemble(withSlowest = false, withSplit = false, withNotes = true),
      assemble(withSlowest = false, withSplit = false, withNotes = false),
      compactMin).find(_.length < 1500).getOrElse(compactMin)
    require(compact.length < 1500,
      s"bench compact line ${compact.length} chars — would overflow the 2000-char tail")
    spark.stop()
    println(compact)
    System.out.flush()
  }
}
