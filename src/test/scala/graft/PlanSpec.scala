package graft

import org.apache.spark.sql.catalyst.expressions.GetJsonObject
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale claims the query surface makes:
  * filters reach the parquet scan, projections prune columns, dimension
  * joins broadcast, and shuffle counts stay at the declared minimum.
  * AQE is off in this session so the static plan is inspectable.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  override protected def sparkConf = Map(NoAqe)

  private def plan(q: String) =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan

  test("q03: the SDJ parse stays above the fan-out; the one-task scan stage reads no JSON") {
    val p = SparkEntry.queries("q03_iglu_parse")(spark, sf).queryExecution.optimizedPlan
    val scanSide = p.collect { case r: RepartitionByExpression => r.child }
    assert(scanSide.nonEmpty, p.treeString)
    val json = scanSide.flatMap(_.flatMap(_.expressions)).flatMap(_.collect { case g: GetJsonObject => g })
    assert(json.isEmpty, p.treeString)
  }

  test("q10: the l_shipdate filter is pushed down to the lineitem scan") {
    val scans = plan("q10_pricing_summary").collect {
      case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]")).mkString
    assert(pushed.contains("LessThanOrEqual(l_shipdate"), s"got: $pushed")
  }

  test("q05: column pruning — the events scan reads only the ts column") {
    val scans = plan("q05_min_tstamp").collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val schema = scans.head.metadata.getOrElse("ReadSchema", "")
    assert(schema.contains("ts"), s"got: $schema")
    assert(!schema.contains("props") && !schema.contains("user_id"),
      s"expected pruned scan, got: $schema")
  }

  test("q11: all three dimension joins broadcast (no shuffle join on dims)") {
    val p = plan("q11_revenue_by_nation")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected >=3 broadcast joins, got ${bhj.size}:\n$p")
  }

  test("q30: exact dedup costs exactly one data shuffle (plus the output sort)") {
    val p = plan("q30_exact_dedup")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // 1 hash exchange for the window partitionBy + 1 range exchange for
    // the deterministic output ordering — nothing else
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got ${shuffles.size}:\n$p")
  }

  test("q33: native simhash plans with zero pre-sort shuffles (map-only fingerprint)") {
    val p = plan("q33_simhash")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // only the final orderBy range exchange — the fingerprint itself is
    // a narrow projection
    assert(shuffles.size <= 1, s"expected map-only + sort, got:\n$p")
  }

  test("q40: brute-force kNN broadcasts the query side, never shuffles the scan") {
    val p = plan("q40_knn_brute")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty ||
      p.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("q60: the curation funnel costs one data shuffle end-to-end") {
    val p = plan("q60_corpus_curation")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // 1 hash exchange for the dedup window + 1 range exchange for the
    // deterministic output ordering; every other stage is a fused
    // narrow projection/filter
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got ${shuffles.size}:\n$p")
  }

  test("q63: the packing prefix sum shuffles on the block key, not a global sort") {
    val p = plan("q63_shard_packing")
    // the full-table pass must be hash-partitioned per block; only the
    // #blocks-row offsets aggregate may single-partition
    assert(p.toString.contains("hashpartitioning(_psum_blk"),
      s"expected a per-block hash exchange, got:\n$p")
  }

  test("q29b: reservoir-k runs as a heap aggregate, not a per-group sort window") {
    val p = plan("q29b_reservoir_k")
    assert(p.toString.contains("ObjectHashAggregate"),
      s"expected the bounded-heap graft_topk aggregate:\n$p")
    assert(!p.toString.contains("row_number"),
      s"the engine side must not fall back to the window rendering:\n$p")
  }

  test("q100: the permutation's corpus-wide window partitions by hash bucket") {
    val p = plan("q100_global_shuffle")
    assert(p.toString.contains("hashpartitioning(bucket"),
      s"expected the per-bucket rank window, got:\n$p")
  }

  test("q102: all three sketch-row lookups broadcast the 1024-bucket grid") {
    val p = plan("q102_cms_heavy_hitters")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"expected 3 broadcast sketch lookups, got ${bhj.size}:\n$p")
  }

  test("q104: the batching rank window partitions by length bucket, not the corpus") {
    val p = plan("q104_length_batching")
    assert(p.toString.contains("hashpartitioning(bucket"),
      s"expected the per-bucket rank window, got:\n$p")
  }

  test("q34b: semdedup pairs join on the trained cluster key, never a cartesian") {
    val p = plan("q34b_semdedup")
    assert(!p.toString.contains("CartesianProduct"),
      s"pair generation must stay inside clusters:\n$p")
    assert(p.toString.contains("cluster"), s"expected the cluster join key:\n$p")
  }

  test("q63b: sequence packing reuses the block prefix sum — no global sort before the explode") {
    val p = plan("q63b_sequence_packing")
    assert(p.toString.contains("hashpartitioning(_psum_blk"),
      s"expected a per-block hash exchange, got:\n$p")
  }

  test("q64: per-language thresholds broadcast — the corpus side never shuffles for the join") {
    val p = plan("q64_temperature_resample")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected the |langs|-row threshold table to broadcast:\n$p")
  }

  test("q66: the eval shingle set broadcasts for the semi-join; the corpus never shuffles for it") {
    // r8 shape: explode + broadcast LEFT SEMI (the eval set hashes once
    // per task, not once per document as the old per-row
    // array_intersect did); the hit counts and the base join are
    // doc-keyed, and the hit side broadcasts back
    val p = plan("q66_contamination_score")
    val broadcasts = p.collect { case j: BroadcastHashJoinExec => j }
    assert(broadcasts.exists(_.joinType.sql.contains("SEMI")),
      s"expected the eval set as a broadcast semi-join:\n$p")
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"no corpus-sized sort-merge join:\n$p")
    // exchanges: the eval distinct, the doc-keyed hit agg, and the
    // presentation sort — nothing shuffles the corpus for the join
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 4, s"expected <=4 exchanges, got ${shuffles.size}:\n$p")
  }

  test("q70: the correlated subquery decorrelates — no per-row subquery in the physical plan") {
    val p = plan("q70_correlated_subquery")
    assert(!p.toString.contains("Subquery"),
      s"expected Catalyst to decorrelate into aggregate+join:\n$p")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty ||
      p.toString.contains("SortMergeJoin"),
      s"expected real joins after decorrelation:\n$p")
  }

  test("q73: cube computes all four grouping sets in one shuffle (Expand, not 4 scans)") {
    val p = plan("q73_cube")
    assert(p.toString.contains("Expand"), s"expected an Expand node:\n$p")
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"cube must scan events once, got ${scans.size}")
  }

  test("q31b/q33b/q33c/q55: candidate generation is hash joins, never a cartesian pair space") {
    for (q <- Seq("q31b_prefix_jaccard", "q33b_simhash_pairs",
        "q33c_simhash64_pairs", "q55_verbatim_spans", "q57_sparse_cosine",
        "q68_triangles", "q83_source_overlap")) {
      val s = plan(q).toString
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$q must join on index keys, got:\n$s")
    }
  }

  test("q68: triangle rows materialize above the closing join, wedges never as join input") {
    // The adjacency-intersection close: wedge-sized (Σ out-deg²) ROW
    // counts must never reach a join. Two legal explodes exist — the
    // array_intersect explode that materializes triangles and the 3-node
    // count fan-out — and both sit ABOVE the closing join. The edge-list
    // recovery (explode of the checkpointed adjacency's single `nbrs`
    // array) MAY feed the join: it generates exactly m = |edges| rows.
    // The wedge hazard is an explode stacked over a join or over another
    // explode (rows multiply to Σ out-deg²), so that is what's banned.
    val p = plan("q68_triangles")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, s"expected the closing equi-join:\n$p")
    for (j <- joins; side <- j.children; g <- side.collect { case g: GenerateExec => g }) {
      val below = g.child.collect {
        case x: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => x
        case x: org.apache.spark.sql.execution.joins.SortMergeJoinExec => x
        case x: BroadcastHashJoinExec => x
        case x: GenerateExec => x
      }
      assert(below.isEmpty,
        s"an explode feeding the closing join must be the m-row edge-list " +
          s"recovery over the adjacency scan, not a wedge expansion:\n$p")
    }
  }

  test("q132: the wedge joins run over the degree-ORIENTED edge list, generated once") {
    // The symmetric-edge self-join streamed d² ordered pairs per hub; the
    // oriented form builds the edge list ONCE behind a localCheckpoint
    // (degree join + (deg, id) low→high orientation) and every wedge join
    // consumes that RDD-backed frame. Assert: (a) the wedge joins' inputs
    // are checkpoint scans, never the raw co-occurrence subtree (an
    // Aggregate under a join side would mean a re-derived edge list), and
    // (b) three config joins + the anti join are present.
    val p = plan("q132_link_prediction")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.size >= 4, s"expected 3 config wedge joins + the anti join:\n$p")
    // a wedge join is one KEYED on the middle vertex (not the anti join,
    // whose subtree would also print 'mid')
    val wedgeJoins = joins.filter {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("mid"))
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        j.leftKeys.exists(_.toString.contains("mid"))
      case j: BroadcastHashJoinExec =>
        j.leftKeys.exists(_.toString.contains("mid"))
      case _ => false
    }
    assert(wedgeJoins.size >= 3, s"expected the 3 oriented config joins:\n$p")
    for (j <- wedgeJoins; side <- j.children) {
      val aggsBelow = side.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      }
      assert(aggsBelow.isEmpty,
        s"a wedge join side re-derived the edge list (found an aggregate " +
          s"below it) instead of scanning the oriented checkpoint:\n$p")
    }
  }

  test("q177: all three a-priori gates are broadcast semi-joins; instances never shuffle for them") {
    val p = plan("q177_apriori_triples")
    val semis = p.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size >= 3,
      s"the (a,b)/(b,c)/(a,c) frequent-pair gates must broadcast:\n$p")
    assert(!p.toString.contains("CartesianProduct"), s"no pair space:\n$p")
  }

  test("q176/q179: windows are keyed (doc/user/matrix-row), never corpus-wide single-partition") {
    for (q <- Seq("q176_cdc_chunks", "q179_markov_transitions")) {
      val p = plan(q)
      val wins = p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"$q expected window operators:\n$p")
      wins.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$q has an unpartitioned (single-partition) window:\n$p")
      }
      assert(!p.toString.contains("CartesianProduct"), s"$q no pair space:\n$p")
    }
  }

  test("q56: the query/df/stats sides broadcast; corpus never shuffles for them") {
    val p = plan("q56_bm25")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 2, s"query-term and df joins must broadcast:\n$p")
    // the only nested-loop join is the deliberate 1-row stats broadcast
    val bnlj = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.size <= 1, s"only the 1-row stats crossJoin may nest:\n$p")
  }

  test("q54/q59: corpus joins are hash joins; only the 1-row stats frame nests") {
    // the df-threshold crossJoin against the 1-row corpus-stats frame is
    // the ONLY permitted nested-loop join (it recurs once per reference
    // to the vocabulary subplan in the static plan; AQE reuses the
    // exchange at runtime) — identified by its df-vs-n condition
    for ((q, marker) <- Seq("q54_hybrid_retrieval" -> "0.5",
        "q59_boilerplate_strip" -> "* 4")) {
      val p = plan(q)
      val bnlj = p.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.forall(_.condition.exists(_.toString.contains(marker))),
        s"$q: a nested-loop join that is not the stats threshold:\n$p")
      assert(!p.toString.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("q152/q158/q160: graph candidate generation is hash joins, never a pair space") {
    for (q <- Seq("q152_butterflies", "q158_multisource_bfs",
        "q160_association_rules")) {
      val s = plan(q).toString
      assert(!s.contains("CartesianProduct"), s"$q:\n$s")
      // the only nested-loop joins allowed are 1-row stat broadcasts
      // (q152's wedge total, q160's order count)
      val bnlj = plan(q).collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.forall(_.condition.isEmpty), s"$q conditioned NL join:\n$s")
    }
  }

  test("q163: the whole contract suite costs exactly one events scan") {
    val scans = plan("q163_contract_check").collect {
      case f: FileSourceScanExec => f }
    assert(scans.size == 1,
      s"expected 1 scan for all 5 rules, got ${scans.size}")
  }

  test("q156: the group-stats side broadcasts — the fact table never sort-merge joins") {
    val p = plan("q156_loo_target_encoding")
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected the stats join to broadcast:\n$p")
    val smj = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smj.isEmpty, s"fact side must not shuffle for the stats join:\n$p")
  }

  test("q31b: every window is partitioned (no global sort in the prefix ranking)") {
    val s = plan("q31b_prefix_jaccard").toString
    assert(!s.contains("SinglePartition, Window") &&
      !s.contains("Window [row_number()], [df"), // global order-only window
      s"expected per-doc partitioned windows:\n$s")
  }

  test("q69: the z-value is map-only — at most the output-sort exchange") {
    val p = plan("q69_zorder")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 1, s"expected map-only + sort, got ${shuffles.size}:\n$p")
  }

  test("q75/q77: pivot and grouping sets scan once, bounded exchanges") {
    for ((q, maxEx) <- Seq(("q75_pivot", 3), ("q77_grouping_sets", 2))) {
      val p = plan(q)
      val scans = p.collect { case f: FileSourceScanExec => f }
      assert(scans.size == 1, s"$q must scan once, got ${scans.size}")
      val shuffles = p.collect { case s: ShuffleExchangeExec => s }
      // pivot: pre-agg on (group, value) + pivotfirst agg + output sort;
      // grouping sets: Expand + one agg exchange + output sort. Both
      // shuffle only group-count-sized rows after the map-side partials.
      assert(shuffles.size <= maxEx, s"$q: expected <=$maxEx exchanges, got ${shuffles.size}:\n$p")
    }
  }

  test("q106: the SCD-2 build costs one hash shuffle on user_id (both windows + the group reuse it)") {
    val p = plan("q106_scd2")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // 1 hash exchange on user_id — lag/sum windows, the (user_id, version)
    // aggregate (subset-key reuse), and the lead window all consume it —
    // plus the final output-order range exchange
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got ${shuffles.size}:\n$p")
    val hashEx = shuffles.filterNot(_.toString.contains("rangepartitioning"))
    assert(hashEx.size == 1 && hashEx.head.toString.contains("user_id"),
      s"expected one hash exchange on user_id:\n$p")
  }

  test("q105/q107: mining and projection broadcast the query side, rank via the bounded heap") {
    for (q <- Seq("q105_hard_negatives", "q107_random_projection")) {
      val p = plan(q)
      assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty ||
        p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$q: the query side must broadcast:\n$p")
      assert(p.toString.contains("ObjectHashAggregate"),
        s"$q: expected the graft_topk heap aggregate:\n$p")
      assert(!p.toString.contains("row_number"),
        s"$q: must not fall back to the window ranking:\n$p")
    }
  }

  test("q108: paragraph dedup is two hash shuffles (tile window + reassembly) plus the output sort") {
    val p = plan("q108_paragraph_dedup")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.size <= 3, s"expected <=3 exchanges, got ${shuffles.size}:\n$p")
    assert(!p.toString.contains("SinglePartition"),
      s"no stage may collapse to one partition:\n$p")
  }

  test("q109: the CDC merge's full-outer join reuses the two compaction exchanges") {
    val p = plan("q109_cdc_merge")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // base hash(key) + delta hash(key) + the output-order range exchange;
    // the full-outer sort-merge join must NOT add a fourth
    assert(shuffles.size <= 3, s"expected <=3 exchanges, got ${shuffles.size}:\n$p")
    assert(p.toString.contains("FullOuter"), s"expected the full-outer merge join:\n$p")
  }

  test("q110: the token total broadcasts as one scalar row; no cartesian pair space") {
    val p = plan("q110_skipgram_pmi")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.size <= 1 &&
      !p.toString.contains("CartesianProduct"),
      s"only the 1-row n_tokens frame may nest:\n$p")
  }

  test("q114: phrase terms broadcast into the postings before the positional join") {
    val p = plan("q114_phrase_search")
    // the 1-row phrase frame must broadcast into BOTH postings filters,
    // and the positional join must be a hash join on (doc_id, pos) —
    // never a cartesian over corpus tokens
    assert(p.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"expected the phrase to broadcast into both term filters:\n$p")
    assert(!p.toString.contains("CartesianProduct"),
      s"the positional join must stay keyed:\n$p")
  }

  test("q115: the neighborhood window partitions by lang, not a global sort") {
    val p = plan("q115_sorted_neighborhood")
    assert(p.toString.contains("hashpartitioning(lang"),
      s"expected the per-language sorted neighborhood window:\n$p")
    assert(!p.toString.contains("rangepartitioning(key"),
      s"no corpus-wide sort may appear:\n$p")
  }

  test("q62: the batch/corpus doc_id filters reach the documents scans") {
    val scans = plan("q62_incremental_dedup").collect {
      case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    // the mod-5 split sits under the signature pass, so each side's scan
    // carries a data filter instead of signaturing the whole corpus
    val filters = scans.map(_.dataFilters.mkString(","))
    assert(filters.exists(_.contains("% 5")),
      s"expected the doc_id %% 5 split at the scan, got: ${filters.mkString("; ")}")
  }

  test("q117: the interval-overlap theta join plans as a hash join on (user, bin)") {
    val p = plan("q117_interval_overlap")
    assert(p.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"the binned overlap join must never nest/cartesian:\n$p")
    assert(p.toString.contains("_ov_bin"),
      s"expected the bin key in the join:\n$p")
  }

  test("q143/q145: the peel joins stay equi-joins; the sample ranks on the heap") {
    val pk = plan("q143_kcore").toString
    assert(!pk.contains("CartesianProduct") &&
      !pk.contains("BroadcastNestedLoopJoin"),
      s"k-core peeling must restrict edges via semi equi-joins:\n$pk")
    val ps = plan("q145_priority_sample")
    assert(ps.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if a.toString.contains("graft_topk") => a
    }.nonEmpty, s"the top-(k+1) selection must be the bounded heap:\n$ps")
    assert(!ps.toString.contains("row_number"),
      s"no corpus-wide ranking window may appear:\n$ps")
  }

  test("q144: the only unpartitioned skyline window runs over phase-1 survivors") {
    // phase 1 must be a PARTITIONED window (per-bucket skyline); the
    // global phase-2 window is fed by phase 1's filter, never the
    // corpus-sized distinct-pair frame directly
    val p = plan("q144_skyline")
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 2, s"expected the two-phase skyline:\n$p")
    val Seq(global, local) = windows // outermost first in collect order
    assert(local.partitionSpec.nonEmpty,
      s"phase 1 must partition by bucket:\n$p")
    assert(global.partitionSpec.isEmpty &&
      global.collectFirst {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.ne(global) => w }.nonEmpty,
      s"the global window must sit above the bucketed one:\n$p")
  }

  test("q118: both ranking stages run on the bounded heap, not window sorts") {
    val p = plan("q118_binary_hamming")
    val heaps = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
        if a.toString.contains("graft_topk") => a
    }
    // The invariant is that BOTH ranking stages (shortlist, rerank) run
    // on the heap aggregate — i.e. >= 2 DISTINCT graft_topk aggregates
    // by grouping key. Whether the planner splits each into a
    // partial+final pair (4 exec nodes) or elides a stage under AQE is
    // an implementation detail this test must not pin.
    val distinctAggs =
      heaps.map(_.aggregateExpressions.map(_.aggregateFunction.sql)).distinct
    assert(distinctAggs.size >= 2,
      s"expected heap-ranked shortlist AND rerank (>=2 distinct graft_topk " +
        s"aggregates), got ${distinctAggs.size} among ${heaps.size} nodes:\n$p")
    assert(!p.toString.contains("row_number"),
      s"no per-query window sort may appear:\n$p")
  }

  test("q119/q121: iteration output never re-reads the corpus (checkpointed loop)") {
    // the PageRank / LPA loop contract: rounds run against the compacted
    // graph, and the returned frame consumes checkpointed iteration
    // state — zero file scans in the final plan
    for (q <- Seq("q119_textrank", "q121_label_prop")) {
      val scans = plan(q).collect { case f: FileSourceScanExec => f }
      assert(scans.isEmpty,
        s"$q: expected checkpoint-rooted plan, found corpus scans")
    }
  }

  test("q137/q138: TPC-H filters reach the scans; dims broadcast") {
    val p3 = plan("q137_shipping_priority")
    val pushed = p3.collect { case f: FileSourceScanExec => f }
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("EqualTo(c_mktsegment") &&
      pushed.contains("GreaterThan(l_shipdate"),
      s"expected segment + ship-date pushdown, got: $pushed")
    val p5 = plan("q138_local_supplier_volume")
    assert(p5.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"nation and region must broadcast:\n$p5")
  }

  test("q134: the pruned vocabulary broadcasts into the presence scan; triples are hash joins") {
    val p = plan("q134_frequent_triples")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"expected the top-30 vocabulary to broadcast:\n$p")
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"triple candidates must come from equi-joins:\n$p")
  }

  test("q130: the probe row broadcasts; the corpus side never shuffles for the scoring join") {
    val p = plan("q130_series_similarity")
    val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, s"expected the 1-row probe/base frames to broadcast:\n$p")
    assert(p.toString.contains("graft_topk"),
      s"ranking must run on the bounded heap:\n$p")
  }

  test("q123/q124: corpus aggregates first; only tiny frames nest or window") {
    // q123: ONE corpus scan feeds the per-source agg; the Gini window
    // runs over the #sources frame
    val g = plan("q123_source_gini")
    assert(g.collect { case f: FileSourceScanExec => f }.size == 1,
      s"gini must aggregate the corpus in one pass:\n$g")
    // q124: the 1-row label-totals frame broadcasts; no cartesian on
    // the vocabulary side
    val c = plan("q124_chi2_features")
    val bnl = c.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.size == 1,
      s"expected exactly the broadcast totals row, got ${bnl.size}:\n$c")
  }

  test("q186: the 1024-row ratio table broadcasts; the corpus side never shuffles for it") {
    val p = plan("q186_dsir_importance")
    assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"ratio attach must be a broadcast join:\n$p")
    // corpus-side work: the (doc, source) score agg and the presentation
    // sort — the ratio build's own agg is bucket-sized. No sort-merge
    // join may sort the corpus feature stream.
    assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"the feature stream must not sort for the ratio attach:\n$p")
  }

  test("q185: one (doc, token) agg + one per-doc agg — nothing else touches the corpus") {
    val p = plan("q185_token_diversity")
    assert(p.collect { case f: FileSourceScanExec => f }.size == 1,
      s"diversity must read the corpus once:\n$p")
    val shuffles = p.collect { case s: ShuffleExchangeExec => s }
    // (doc, w) agg, (doc) agg, presentation range sort
    assert(shuffles.size <= 3,
      s"expected <=3 exchanges, got ${shuffles.size}:\n$p")
  }

  test("q183: split → weights → water-fill composes without re-reading the corpus") {
    // the corpus-touching stage (pre-checkpoint, where the scans live):
    // documents once, the materialized cluster-map table once — the
    // split, the dup weights (count window over the joined frame), and
    // the per-source mass all ride the SAME pass
    val p = graft.operators.Curation.curriculumPerSource(spark, sf)
      .queryExecution.executedPlan
    val scans = p.collect { case f: FileSourceScanExec => f }
    val docScans = scans.filter(_.metadata.getOrElse("Location", "")
      .contains("documents.parquet"))
    val cmScans = scans.filterNot(_.metadata.getOrElse("Location", "")
      .contains("documents.parquet"))
    assert(docScans.size == 1,
      s"corpus re-read between stages (${docScans.size} documents scans):\n$p")
    assert(cmScans.size == 1,
      s"expected one cluster-map scan, got ${cmScans.size}:\n$p")
    // downstream of the checkpoint everything is #sources-row work: the
    // full query plan must contain NO file scans at all
    val full = plan("q183_curriculum_mix")
    assert(full.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"water-fill stage re-read a table:\n$full")
  }

  test("q192: the ANN frontier reads the embedding table exactly once (checkpointed)") {
    // every family branch + the exact pass must consume the ONE
    // checkpointed projection that carries all probe keys — a parquet
    // scan in the final plan would mean a family re-read the table
    val p = plan("q192_ann_frontier")
    val scans = p.collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty,
      s"expected zero parquet scans (single checkpointed base), got ${scans.size}")
    // five family reports unioned: five bounded-heap top-k aggregates
    assert(p.toString.contains("graft_topk"))
  }
}
