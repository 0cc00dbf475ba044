package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.scalatest.funsuite.AnyFunSuite

/** The TOTAL plan-lint gate (r8 verdict #1): every entry of
  * [[SparkEntry.queries]] is classified and its physical plan checked
  * against the scale anti-patterns the per-query PlanSpec tests ban by
  * hand — so a future rewrite cannot silently reintroduce a
  * scale-killer, and a NEW query cannot land without a classification.
  *
  * Banned by default (allowed only via an explicit per-query flag, each
  * flag documented at the declaration):
  *   - CartesianProduct / BroadcastNestedLoopJoin whose sides are both
  *     unbounded (a scalar-aggregate / limit side is fine — that is a
  *     broadcast of a bounded frame, not a pair space);
  *   - single-partition Window (empty PARTITION BY over an unbounded
  *     frame serializes the corpus through one task);
  *   - single-partition exchanges / coalesce(1).
  *
  * Pair-generation families additionally must show their blocked
  * candidate machinery in the plan (the bucketPairs posexplode+slice
  * path, the graft_hamming_pairs generator, a memo-table scan, or the
  * documented ReusedExchange self-join) — [[pairMarkers]].
  */
class PlanLintSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  override protected def cores = 8
  override protected def sparkConf = Map(NoAqe)

  /** Flags a classification may grant. Empty set = fully strict. */
  private val OracleCross = "oracle_cross" // documented exact-truth oracle: bounded broadcast side
  private val GlobalWindow = "global_window" // documented bounded single-partition window frame
  private val SinglePart = "single_partition" // documented bounded coalesce/single-partition exchange
  private val strict = Set.empty[String]

  /** Flag documentation (each grant was hand-audited, r9):
    *
    * GlobalWindow — the empty-PARTITION-BY window runs over a frame that
    * is AGGREGATE-SIZED by construction, not corpus-sized: a phase-2
    * pass over bucket-local survivors (q144 skyline, q63/q63b packing
    * offsets over #blocks rows, q178/q183 water-fill over #sources
    * rows), a per-day/source/score-granularity rollup (q96/q96b rolling
    * DAU over #days, q123 Gini over #sources, q129/q142 rank walks over
    * #distinct-score groups, q100/q101c/q06 likewise). The accompanying
    * single-partition exchange carries that same bounded frame.
    *
    * OracleCross — the nested-loop side is BOUNDED IN PRACTICE but
    * invisible to static analysis: an exact-truth ANN oracle or probe
    * sample selected by an equality/range filter on a key prefix
    * (q40/q46/q48/q48c/q53/q105/q107/q118/q167/q175/q180 broadcast the
    * query-vector sample; q130 broadcasts one probe user's series;
    * q162/q83b broadcast a #sources-sized frame). The broadcast() call
    * in the query marks the intent; the lint cannot see the filter's
    * selectivity, so these carry an explicit grant.
    */
  private val classification: Map[String, Set[String]] = Map(
    "q191_bmp_roundtrip" -> strict,
    "q197_png_roundtrip" -> strict,
    "q198_jpeg_decode" -> strict,
    "q199_pq_append" -> strict,
    "q200_wav_roundtrip" -> strict,
    "q201_lm_score" -> strict,
    "q202_mp4_metadata" -> strict,
    "q203_dsir_select" -> strict,
    // exact-truth pass (5 queries × corpus) + 5×8 medoid seeding are the
    // bounded broadcast nested-loops; the index build and beam rounds are
    // key-joins
    "q204_knn_graph_beam" -> Set(OracleCross),
    "q205_gif_roundtrip" -> strict,
    "q206_mjpeg_frames" -> strict,
    "q207_bpe_train" -> strict,
    "q208_bpe_segment" -> strict,
    "q192_ann_frontier" -> Set(OracleCross),
    "q193_gopher_rules" -> strict,
    "q194_ngram_novelty" -> strict,
    "q195_semantic_dedup" -> strict,
    "q196_funnel_report" -> strict,
    "q01_enriched_tstamp" -> strict,
    "q02_sdj_bad" -> strict,
    "q02_sdj_good" -> strict,
    "q03_iglu_parse" -> strict,
    "q04_group_by_schema" -> strict,
    "q05_min_tstamp" -> strict,
    "q06_size_batches" -> Set(GlobalWindow),
    "q07_partition_path" -> strict,
    "q08_size_cap" -> strict,
    "q100_global_shuffle" -> Set(GlobalWindow),
    "q101_perceptron" -> strict,
    "q101b_classifier_eval" -> strict,
    "q101c_ranking_auc" -> Set(GlobalWindow),
    "q102_cms_heavy_hitters" -> strict,
    "q103_snapshot_diff" -> strict,
    "q104_length_batching" -> strict,
    "q105_hard_negatives" -> Set(OracleCross),
    "q106_scd2" -> strict,
    "q107_random_projection" -> Set(OracleCross),
    "q108_paragraph_dedup" -> strict,
    "q109_cdc_merge" -> strict,
    "q10_pricing_summary" -> strict,
    "q110_skipgram_pmi" -> strict,
    "q111_suffix_ranks" -> strict,
    "q111b_repeated_regions" -> strict,
    "q112_distribution_drift" -> strict,
    "q113_power_iteration" -> strict,
    "q114_phrase_search" -> strict,
    "q115_sorted_neighborhood" -> strict,
    "q116_scalar_quantization" -> strict,
    "q117_interval_overlap" -> strict,
    "q118_binary_hamming" -> Set(OracleCross),
    "q119_textrank" -> strict,
    "q11_revenue_by_nation" -> strict,
    "q120_containment" -> strict,
    "q121_label_prop" -> strict,
    "q122_ngram_novelty" -> strict,
    "q123_source_gini" -> Set(GlobalWindow),
    "q124_chi2_features" -> strict,
    "q125_dedup_keep_best" -> strict,
    "q126_minhash_calibration" -> strict,
    "q127_burst_days" -> strict,
    "q128_url_domains" -> strict,
    "q129_quantile_normalize" -> Set(GlobalWindow),
    "q12_top_orders_per_cust" -> strict,
    "q130_series_similarity" -> Set(OracleCross),
    "q131_weighted_jaccard" -> strict,
    "q132_link_prediction" -> strict,
    "q133_blocking_recall" -> strict,
    "q134_frequent_triples" -> strict,
    "q135_journey_trigrams" -> strict,
    "q136_bfs_levels" -> strict,
    "q137_shipping_priority" -> strict,
    "q138_local_supplier_volume" -> strict,
    "q139_table_profile" -> strict,
    "q13_semi_join" -> strict,
    "q140_dup_rate_by_source" -> strict,
    "q141_media_phash_pairs" -> strict,
    "q142_ks_distance" -> Set(GlobalWindow),
    "q143_kcore" -> strict,
    "q144_skyline" -> Set(GlobalWindow),
    "q145_priority_sample" -> strict,
    "q146_rendezvous_shards" -> strict,
    "q147_join_size_sketch" -> strict,
    "q148_repetition_signals" -> strict,
    "q149_zonemap_prune" -> strict,
    "q14_anti_join" -> strict,
    "q150_ewma" -> strict,
    "q151_blocker_kappa" -> strict,
    "q152_butterflies" -> strict,
    "q153_skew_advisor" -> strict,
    "q154_personalized_pagerank" -> strict,
    "q155_grouped_ols" -> strict,
    "q156_loo_target_encoding" -> strict,
    "q157_rfm_segments" -> strict,
    "q158_multisource_bfs" -> strict,
    "q159_merge_three_branch" -> strict,
    "q15_setops" -> strict,
    "q160_association_rules" -> strict,
    "q161_dup_aware_weights" -> strict,
    "q162_curriculum_interleave" -> Set(OracleCross),
    "q163_contract_check" -> strict,
    "q164_modularity" -> strict,
    "q165_conversion_lag" -> strict,
    "q166_langid_confusion" -> strict,
    "q167_matryoshka_recall" -> Set(OracleCross),
    "q168_centroid_cohesion" -> strict,
    "q169_ship_latency" -> strict,
    "q16_rollup" -> strict,
    "q170_cluster_size_dist" -> strict,
    "q171_neyman_allocation" -> strict,
    "q172_stratified_eval_draw" -> strict,
    "q173_cusum" -> strict,
    "q174_eval_leakage" -> strict,
    "q175_tiered_ann" -> Set(OracleCross),
    "q176_cdc_chunks" -> strict,
    "q177_apriori_triples" -> strict,
    "q178_mix_waterfill" -> Set(GlobalWindow),
    "q179_markov_transitions" -> strict,
    "q17_sessionize" -> strict,
    "q180_late_interaction" -> Set(OracleCross),
    "q181_cluster_safe_split" -> strict,
    "q182_copy_matrix" -> strict,
    "q183_curriculum_mix" -> Set(GlobalWindow),
    "q184_tokenizer_fertility" -> strict,
    "q185_token_diversity" -> strict,
    "q186_dsir_importance" -> strict,
    "q187_incremental_clusters" -> strict,
    "q188_sliding_chunks" -> strict,
    "q189_chunk_retrieval" -> strict,
    "q18_distinct_users" -> strict,
    "q190_dedup_savings" -> strict,
    "q19_asof_join" -> strict,
    "q20_token_stats" -> strict,
    "q21_quality_score" -> strict,
    "q22_langid" -> strict,
    "q23_fingerprint" -> strict,
    "q24_vocab" -> strict,
    "q25_redact" -> strict,
    "q26_bigrams" -> strict,
    "q27_length_hist" -> strict,
    "q28_winnowing" -> strict,
    "q29_stratified_sample" -> strict,
    "q29b_reservoir_k" -> strict,
    "q30_exact_dedup" -> strict,
    "q31_ngram_jaccard" -> strict,
    "q31b_prefix_jaccard" -> strict,
    "q32_minhash_lsh" -> strict,
    "q32b_lsh_pairs" -> strict,
    "q33_simhash" -> strict,
    "q33b_simhash_pairs" -> strict,
    "q33c_simhash64_pairs" -> strict,
    "q34_embedding_neardup" -> strict,
    "q34b_semdedup" -> strict,
    "q35_dedup_clusters" -> strict,
    "q36_decontaminate" -> strict,
    "q37_repetition_filter" -> strict,
    "q38_tfidf" -> strict,
    "q39_lm_familiarity" -> strict,
    "q40_knn_brute" -> Set(OracleCross),
    "q41_knn_lsh" -> strict,
    "q41b_knn_multiprobe" -> strict,
    "q42_knn_ivf" -> strict,
    "q43_kmeans" -> strict,
    "q43b_ivf_trained" -> strict,
    "q44_sketches" -> strict,
    "q44b_sketch_exact" -> strict,
    "q45_above_brand_avg" -> strict,
    "q46_ann_recall" -> Set(OracleCross),
    "q47_range_join" -> strict,
    "q48_pq_ann" -> Set(OracleCross),
    "q48b_ivf_pq" -> strict,
    "q48c_pq_trained" -> Set(OracleCross),
    "q49_bloom_decon" -> strict,
    "q50_multimodal_features" -> strict,
    "q51_media_chunks" -> strict,
    "q52_media_resize" -> strict,
    "q53_true_cosine" -> Set(OracleCross),
    "q54_hybrid_retrieval" -> strict,
    "q54b_rrf_fusion" -> strict,
    "q55_verbatim_spans" -> strict,
    "q56_bm25" -> strict,
    "q57_sparse_cosine" -> strict,
    "q58_bpe_encode" -> strict,
    "q59_boilerplate_strip" -> strict,
    "q60_corpus_curation" -> strict,
    "q61_minhash_dedup" -> strict,
    "q62_incremental_dedup" -> strict,
    "q62b_incremental_dedup_indexed" -> strict,
    "q63_shard_packing" -> Set(GlobalWindow),
    "q63b_sequence_packing" -> Set(GlobalWindow),
    "q64_temperature_resample" -> strict,
    "q65_group_split" -> strict,
    "q66_contamination_score" -> strict,
    "q67_pagerank" -> strict,
    "q68_triangles" -> strict,
    "q69_zorder" -> strict,
    "q70_correlated_subquery" -> strict,
    "q71_exists_subquery" -> strict,
    "q72_window_suite" -> strict,
    "q73_cube" -> strict,
    "q74_topk_per_group" -> strict,
    "q75_pivot" -> strict,
    "q76_full_outer" -> strict,
    "q77_grouping_sets" -> strict,
    "q78_range_window" -> strict,
    "q79_funnel" -> strict,
    "q80_cohort_retention" -> strict,
    "q81_bpe_pairs" -> strict,
    "q81b_bpe_merges" -> strict,
    "q82_salted_agg" -> strict,
    "q83_source_overlap" -> strict,
    "q83b_source_overlap_hll" -> Set(OracleCross),
    "q84_equidepth_hist" -> strict,
    "q84b_equidepth_approx" -> strict,
    "q85_session_window" -> strict,
    "q86_map_roundtrip" -> strict,
    "q87_edit_distance" -> strict,
    "q88_calendar" -> strict,
    "q89_unpivot" -> strict,
    "q90_event_lift" -> strict,
    "q91_interevent_hist" -> strict,
    "q92_revenue_share" -> strict,
    "q93_filtered_agg" -> strict,
    "q94_string_agg" -> strict,
    "q95_gap_fill" -> strict,
    "q96_rolling_dau" -> Set(GlobalWindow),
    "q96b_rolling_dau_hll" -> Set(GlobalWindow),
    "q97_robust_outliers" -> strict,
    "q97b_robust_outliers_approx" -> strict,
    "q98_json_roundtrip" -> strict,
    "q99_mixture_sample" -> strict)

  /** Pair families: ANY listed marker must appear in the plan text —
    * the bucketPairs posexplode+slice emission ("slice("), the native
    * hamming generator, a memo-table scan (table-name stem), or the
    * documented ReusedExchange self-join (q131 — see Dedup.scala's
    * measured rationale). Queries whose pair machinery hides behind a
    * mid-plan localCheckpoint (lineage truncation, e.g. q31b) are
    * covered by their dedicated PlanSpec tests instead.
    */
  private val pairMarkers: Map[String, Seq[String]] = Map(
    "q32b_lsh_pairs" -> Seq("slice("),
    "q33b_simhash_pairs" -> Seq("graft_hamming_pairs"),
    "q126_minhash_calibration" -> Seq("slice("),
    "q131_weighted_jaccard" -> Seq("ReusedExchange"),
    "q133_blocking_recall" -> Seq("graft_band_pairs"),
    "q151_blocker_kappa" -> Seq("graft_band_pairs"),
    "q61_minhash_dedup" -> Seq("graft_cluster", "graft_basemap"),
    "q62b_incremental_dedup_indexed" -> Seq("graft_band_idx"),
    "q111_suffix_ranks" -> Seq("graft_suffix"),
    "q111b_repeated_regions" -> Seq("graft_suffix"),
    "q187_incremental_clusters" -> Seq("graft_basemap"))

  /** Bounded-output subtree: a scalar aggregate or a limit at the root
    * (looking through non-row-expanding unaries). Conservative — a
    * bounded side makes a nested-loop/cartesian join a broadcast of a
    * bounded frame, not a pair space.
    */
  private def bounded(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case _: GlobalLimitExec | _: LocalLimitExec |
        _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    // driver-computed model frames (centroids, codebooks, parameter
    // tables) enter the plan as literal local relations — model-sized
    // by construction
    case _: LocalTableScanExec => true
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      bounded(r.child)
    case _: GenerateExec | _: ExpandExec => false
    case u: UnionExec => u.children.forall(bounded)
    case u: UnaryExecNode => bounded(u.child)
    case j: BinaryExecNode => bounded(j.left) && bounded(j.right)
    case _ => false
  }

  private def violations(name: String, flags: Set[String]): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf)
    val plan = df.queryExecution.executedPlan
    val nodes = plan.collectWithSubqueries { case n => n }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    nodes.foreach {
      case j: CartesianProductExec
          if !bounded(j.left) && !bounded(j.right) &&
            !flags(OracleCross) =>
        out += s"CartesianProduct over two unbounded sides"
      case j: BroadcastNestedLoopJoinExec
          if !bounded(j.left) && !bounded(j.right) &&
            !flags(OracleCross) =>
        out += s"BroadcastNestedLoopJoin over two unbounded sides"
      case w: WindowExec
          if w.partitionSpec.isEmpty && !flags(GlobalWindow) =>
        out += s"single-partition Window (no PARTITION BY)"
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !flags(GlobalWindow) =>
        out += s"single-partition WindowGroupLimit"
      case c: CoalesceExec if c.numPartitions == 1 && !flags(SinglePart) =>
        out += s"coalesce(1)"
      case e: ShuffleExchangeExec
          if e.outputPartitioning == SinglePartition &&
            !bounded(e.child) && // global-agg second stage: partial-agg-sized
            !flags(SinglePart) && !flags(GlobalWindow) =>
        out += s"single-partition exchange over unbounded input"
      case _ =>
    }
    pairMarkers.get(name).foreach { markers =>
      val txt = plan.toString
      if (!markers.exists(txt.contains))
        out += s"pair family lacks blocked-candidate markers ${markers.mkString(" | ")}"
    }
    out.toSeq
  }

  test("driver smoke: SparkEntry.entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("classification is total: every SparkEntry query is classified, no stale entries") {
    val qs = SparkEntry.queries.keySet
    val unclassified = qs -- classification.keySet
    val stale = classification.keySet -- qs
    assert(unclassified.isEmpty,
      s"add a PlanLintSpec classification for: ${unclassified.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"stale classifications: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("all query plans pass the scale lint") {
    val bad = classification.toSeq.sortBy(_._1).flatMap { case (name, flags) =>
      if (!SparkEntry.queries.contains(name)) Nil
      else try {
        violations(name, flags).map(v => s"$name: $v")
      } catch {
        case e: Throwable => Seq(s"$name: plan construction failed: ${e.getMessage}")
      }
    }
    assert(bad.isEmpty, s"plan lint violations (\n${bad.mkString("\n")}\n)")
  }
}
