package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup: the sampling / splitting /
  * contamination-scoring passes a training-data pipeline runs after the
  * corpus is cleaned.
  *
  *  - q64: language-balanced temperature resampling — the standard
  *    multilingual-corpus rebalance (keep rate ∝ (c_min/c_lang)^α with
  *    α = 0.5). Selection is a deterministic salted-md5 uniform compared
  *    against a per-language integer threshold, so it is reproducible
  *    run-to-run AND oracle-checkable: sqrt and double division are
  *    IEEE-754 correctly-rounded in both engines, ×2^32 is an exact
  *    exponent shift, and the final compare is integer vs integer.
  *  - q65: leakage-safe train/val/test split — hash the GROUP key
  *    (source), not the row, so every document from one source lands in
  *    the same split. Splitting by row leaks near-identical documents
  *    across the eval boundary; splitting by group is the fix every
  *    dataset card asks about.
  *  - q66: contamination scoring — q36's boolean decontamination refined
  *    to a per-document fraction of token-3-gram shingles found in the
  *    eval set, so downstream can threshold instead of hard-dropping.
  *
  * Scale shape: all three are map-only over the corpus except one tiny
  * broadcast each (per-language thresholds — |langs| rows; the eval
  * shingle set — benchmarks are KBs while the corpus is TBs). Nothing
  * shuffles the 100 TB side.
  */
object Curation extends QueryFamily {

  /** Salted 32-bit uniform from a row key — first 8 md5 hex digits as an
    * integer in [0, 2^32). Identical construction in the DuckDB oracle.
    */
  private[graft] def u32Spark(salt: String, key: String): String =
    s"cast(conv(substring(md5(cast(concat('$salt', $key) as binary)), 1, 8), 16, 10) as bigint)"

  private[graft] def u32Duck(salt: String, key: String): String =
    s"cast(('0x' || substring(md5('$salt' || $key), 1, 8)) as bigint)"

  /** α = 0.5: keep rate per language = sqrt(c_min / c_lang). */
  private val TwoPow32 = "4294967296.0"

  /** Bloom geometry for q49: m bits, k hashes. Sized for the test eval
    * sets so the FP rate is visible but small; production would size m
    * from |eval| at the usual m ≈ 1.44·k·n.
    */
  private val BloomBits = 4096
  private val BloomK = 3

  /** Closed-form global position of the rank-major round-robin interleave
    * WITHOUT a global sort: for a row with per-source rank `r` in source
    * `s`, pos = Σ_{s'} min(r−1, |s'|) + #(s' < s with |s'| ≥ r) + 1 — the
    * row_number under (r, source) ordering, computed from a #sources-row
    * broadcast cross (fan-out bounded by the source count). Input: one
    * row per doc with a rank `r` UNIQUE within its `source`. Equality
    * with the single-partition row_number is oracle-proven (q162) and
    * property-tested on random inputs (PropertySpec).
    */
  private[graft] def interleavePositions(d: DataFrame): DataFrame = {
    val szs = d.groupBy("source").agg(count(lit(1)).as("sz"))
      .toDF("s2", "sz")
    d.crossJoin(broadcast(szs))
      .groupBy("doc_id", "source", "r")
      .agg(
        sum(least(col("r") - 1, col("sz"))).as("before_full"),
        sum(when(col("sz") >= col("r") && col("s2") < col("source"), 1L)
          .otherwise(0L)).as("peers_before"))
      .withColumn("global_pos",
        col("before_full") + col("peers_before") + 1)
  }

  /** q172's draw body, shared with the q174 leakage audit: Neyman
    * allocation over token-count variability + deterministic salted-md5
    * per-stratum draw. Returns (source, doc_id, rk, alloc).
    */
  private def stratifiedEvalDraw(s: SparkSession, dir: String): DataFrame = {
    val K = 1000L
    val st = Synth.documents(s, dir)
      .select(col("source"),
        expr(s"cast(size(${TextAnalysis.toks}) as bigint)").as("x"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("weight", expr("sqrt(cast(n * sxx - sx * sx as double))"))
    val tot = st.agg(expr(
      "aggregate(array_sort(collect_list(struct(source, weight))), " +
        "cast(0.0 as double), (a, x) -> a + x.weight)").as("wtot"))
    val alloc = st.crossJoin(broadcast(tot))
      .withColumn("alloc",
        expr(s"cast(floor($K * weight / wtot) as bigint)"))
      .select("source", "alloc")
    val ranked = Synth.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy("h", "doc_id")).cast("long"))
    ranked.join(broadcast(alloc), "source")
      .filter(col("rk") <= col("alloc"))
  }

  /** q183's corpus-touching stage, up to (but not including) the
    * localCheckpoint: split-safe, dup-weighted per-source effective
    * token mass. Factored out so PlanSpec can assert the single-scan
    * claim (documents ×1, cluster-map table ×1 — the checkpoint hides
    * this subtree from the final plan).
    */
  private[graft] def curriculumPerSource(s: SparkSession, dir: String): DataFrame = {
    val base = Synth.documents(s, dir)
      .select(col("doc_id"), col("source"),
        expr(s"cast(size(${TextAnalysis.toks}) as bigint)").as("n_tokens"))
      .join(Dedup.clusterMap(s, dir), "doc_id")
      .withColumn("is_eval", expr(
        u32Spark("clsplit:", "cast(cluster_id as string)") + " % 16 = 0"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
    base.filter(!col("is_eval"))
      .withColumn("mass_ppm",
        col("n_tokens") * expr("1000000 div cluster_size"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_train_docs"),
        sum(col("mass_ppm")).as("train_mass"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Water-filling token-budget allocation — the data-mix design next
    // to q171's Neyman ALLOCATION and q99's quota EXECUTION: given a
    // total training-token budget (2/5 of the corpus here), cap every
    // source at the common water level L where Σ_s min(tokens_s, L)
    // exhausts the budget — small sources contribute everything, large
    // ones are cut to L (the flat-cap mix rule behind "no source may
    // dominate" data recipes). L has a CLOSED FORM over the
    // size-sorted sources: with prefix sums P_k, the level lies in
    // [N_k, N_{k+1}) for the largest feasible k and equals
    // (B − P_k) div (S − k) — so the whole design is one per-source
    // aggregation plus windows over the #sources-row frame (the
    // PrefixSum offsets argument: never corpus-sized) and a 1-row
    // broadcast back onto the sources. Exact integer arithmetic
    // throughout — the floor-division level is the same in both
    // engines, no float ever appears.
    "q178_mix_waterfill" -> { (s, dir) =>
      val st = Synth.documents(s, dir)
        .select(col("source"),
          expr(s"cast(size(${TextAnalysis.toks}) as bigint)").as("x"))
        .groupBy("source").agg(sum(col("x")).as("n_tokens"))
      val w = Window.orderBy("n_tokens", "source") // #sources rows
      val ranked = st
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("prefix", sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      val consts = broadcast(st.agg(
        expr("sum(n_tokens) * 2 div 5").as("budget"),
        count(lit(1)).cast("long").as("n_src")))
      val feas = ranked.crossJoin(consts)
        .filter(expr("prefix + n_tokens * (n_src - k) <= budget"))
      // prefix at the largest feasible k via max(struct) — the
      // hash-exact argmax convention (k is unique, so ties can't occur)
      val kStar = broadcast(feas
        .agg(max(struct(col("k"), col("prefix"))).as("m"))
        .select(col("m.k").as("k_star"), col("m.prefix").as("pfx")))
      val level = broadcast(consts.crossJoin(kStar)
        .withColumn("level", expr(
          "CASE WHEN k_star IS NULL THEN budget div n_src " +
            "WHEN k_star = n_src THEN NULL " + // budget covers everything
            "ELSE (budget - pfx) div (n_src - k_star) END"))
        .select("level", "budget"))
      st.crossJoin(level)
        .withColumn("alloc", expr("least(n_tokens, coalesce(level, n_tokens))"))
        .select("source", "n_tokens", "alloc", "level", "budget")
        .orderBy("source")
    },

    // Curriculum interleave — the deterministic TRAINING ORDER a data
    // loader consumes: quality-descending within each source (quality =
    // n_chars here; any per-doc score plugs in), sources round-robin
    // interleaved rank-major so early training sees every source's best
    // docs first. The global position is computed WITHOUT a global sort
    // (the q100 argument, in closed form): pos(r, s) = Σ_{s'} min(r−1,
    // |s'|) docs of earlier ranks + #(s' < s with |s'| ≥ r) same-rank
    // peers + 1 — one per-source window, a #sources-row broadcast
    // cross (fan-out bounded by the source count, never corpus²), one
    // aggregation. The oracle IS the single-partition row_number over
    // (r, source), so the hash match proves the distributed closed form
    // equals the global sort exactly.
    "q162_curriculum_interleave" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("r", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      interleavePositions(d)
        .select("global_pos", "doc_id", "source", "r")
        .orderBy("global_pos")
    },

    // Neyman allocation — the survey-sampling design for an evaluation
    // budget: stratum h gets n_h ∝ N_h·σ_h of the K-doc eval sample
    // (big AND internally-variable sources deserve more eval docs than
    // big-but-uniform ones — proportional allocation overpays the
    // latter). Variance comes from exact integer sufficient statistics
    // (N·Σx² − (Σx)² over token counts); σ = one IEEE sqrt (exactly
    // specified, engine-portable), the allocation share one fixed-order
    // multiply/divide, floor to integers — hash-exact. One aggregation
    // over the corpus + a #sources-row rollup.
    "q171_neyman_allocation" -> { (s, dir) =>
      val K = 1000L
      val st = Synth.documents(s, dir)
        .select(col("source"),
          expr(s"cast(size(${TextAnalysis.toks}) as bigint)").as("x"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        // var_num = n²·σ², so N_h·σ_h = √var_num exactly
        .withColumn("var_num", expr("n * sxx - sx * sx"))
        .withColumn("weight", expr("sqrt(cast(var_num as double))"))
      // the one double SUM folds in sorted source order (collect + sorted
      // aggregate) — a plain sum(double) over shuffled rows would be
      // order-dependent and break the cross-engine hash
      val tot = st.agg(expr(
        "aggregate(array_sort(collect_list(struct(source, weight))), " +
          "cast(0.0 as double), (a, x) -> a + x.weight)").as("wtot"))
      st.crossJoin(broadcast(tot))
        .withColumn("alloc",
          expr(s"cast(floor($K * weight / wtot) as bigint)"))
        .select("source", "n", "var_num", "alloc")
        .orderBy("source")
    },

    // The eval draw that EXECUTES q171's design: min(alloc_h, N_h) docs
    // per stratum (a stratum smaller than its allocation is taken whole;
    // the textbook finite-population step would redistribute the excess
    // — kept single-pass here), chosen in deterministic salted-md5 order
    // (the q29/q64 "reproducible randomness" — stable across runs,
    // partitionings, and engines). The allocation table is #sources rows
    // (broadcast); the draw is one per-source window rank + a filter.
    // Composition is the point: design (q171) and draw (q172) are two
    // halves of one pipeline and the oracle checks them end-to-end.
    "q172_stratified_eval_draw" -> { (s, dir) =>
      stratifiedEvalDraw(s, dir)
        .select("source", "doc_id", "rk", "alloc")
        .orderBy("source", "rk")
    },

    // Eval-leakage audit — the integrity check that closes the pipeline
    // loop: q172's eval draw is only honest if no eval doc shares a
    // NEAR-DUP cluster with a non-eval (training) doc — a paraphrase of
    // an eval doc in the training set inflates every benchmark number.
    // Composes three existing pieces (Neyman design → stratified draw →
    // the materialized q61 cluster map) into one report: per source, the
    // eval count, how many eval docs sit in boundary-crossing clusters,
    // and the leak rate in millionths. Probe-cheap: the cluster map is
    // read in place, the audit is two cluster-bounded aggregations.
    "q174_eval_leakage" -> { (s, dir) =>
      val eval0 = stratifiedEvalDraw(s, dir).select("doc_id", "source")
      val cm = Dedup.clusterMap(s, dir)
      val flagged = cm.join(eval0.select(col("doc_id"), lit(1).as("is_eval")),
        Seq("doc_id"), "left")
      val clusterMix = flagged.groupBy("cluster_id").agg(
        count(lit(1)).as("n_total"),
        sum(coalesce(col("is_eval"), lit(0))).as("n_eval_in"))
      val leakyEval = flagged.filter(col("is_eval") === 1)
        .join(clusterMix, "cluster_id")
        .withColumn("is_leaky",
          col("n_total") > col("n_eval_in")) // cluster crosses the split
      eval0.join(leakyEval.select("doc_id", "is_leaky"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("is_leaky"), 1L).otherwise(0L)).as("n_leaky"))
        .withColumn("leak_ppm", expr("n_leaky * 1000000 div n_eval"))
        .orderBy("source")
    },

    // Cluster-safe train/eval SPLIT — the REMEDY the q174 audit calls
    // for: q172 draws eval docs by doc-level hash, and q174 measures the
    // paraphrase leaks that causes (an eval doc's near-dup twin left in
    // training inflates every benchmark). Here the split KEY is the
    // near-dup CLUSTER, not the document — each cluster routes whole to
    // one side by salted u32 (≈1/16 eval) — so cluster-level leakage is
    // zero BY CONSTRUCTION. The same audit as q174 still runs over the
    // result (computed, never asserted) and its n_leaky column comes
    // back 0 — the design's receipt, visible in the hash-checked
    // output. Probe-cheap: one materialized-cluster-map scan, a
    // map-side hash route, two cluster-bounded aggregations.
    "q181_cluster_safe_split" -> { (s, dir) =>
      val split = Dedup.clusterMap(s, dir)
        .withColumn("is_eval", expr(
          u32Spark("clsplit:", "cast(cluster_id as string)") + " % 16 = 0"))
      val mix = split.groupBy("cluster_id").agg(
        count(lit(1)).as("n_total"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval_in"))
      Synth.documents(s, dir).select(col("doc_id"), col("source"))
        .join(split, "doc_id")
        .join(mix.select(col("cluster_id"),
          (col("n_total") > col("n_eval_in")).as("crossing")), "cluster_id")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
          sum(when(col("is_eval") && col("crossing"), 1L).otherwise(0L))
            .as("n_leaky"))
        .withColumn("eval_ppm", expr("n_eval * 1000000 div n_docs"))
        .select("source", "n_docs", "n_eval", "n_leaky", "eval_ppm")
        .orderBy("source")
    },

    // Dedup-aware curriculum mix — the COMPOSITION a real pretraining
    // run executes as one plan, over the deduped, split-safe corpus:
    // q181's cluster-safe split routes whole near-dup clusters away
    // from eval (zero cluster leakage by construction), q161's
    // dup-aware weights make each distinct content unit contribute one
    // document's worth of tokens (weight = 1/cluster_size, integer
    // millionths), and q178's water-fill allocates a 2/5 training-token
    // budget across sources at the closed-form level L over the
    // resulting per-source EFFECTIVE token mass. Cost shape: the corpus
    // and the materialized cluster map are each scanned ONCE (cluster
    // sizes come from a count window over the joined frame — clusters
    // route whole, so within-train size = full size; PlanSpec asserts
    // the single-scan claim), the per-source frame is #sources rows and
    // localCheckpointed for the water-fill's three consumers. All
    // integer arithmetic — hash-exact. Output per source: train docs,
    // effective token mass (token-millionths), allocation, level,
    // budget.
    "q183_curriculum_mix" -> { (s, dir) =>
      // #sources rows, three water-fill consumers
      val perSource = curriculumPerSource(s, dir).localCheckpoint()
      val w = Window.orderBy("train_mass", "source") // #sources rows
      val ranked = perSource
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("prefix", sum(col("train_mass")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      val consts = broadcast(perSource.agg(
        expr("sum(train_mass) * 2 div 5").as("budget"),
        count(lit(1)).cast("long").as("n_src")))
      val feas = ranked.crossJoin(consts)
        .filter(expr("prefix + train_mass * (n_src - k) <= budget"))
      val kStar = broadcast(feas
        .agg(max(struct(col("k"), col("prefix"))).as("m"))
        .select(col("m.k").as("k_star"), col("m.prefix").as("pfx")))
      val level = broadcast(consts.crossJoin(kStar)
        .withColumn("level", expr(
          "CASE WHEN k_star IS NULL THEN budget div n_src " +
            "WHEN k_star = n_src THEN NULL " +
            "ELSE (budget - pfx) div (n_src - k_star) END"))
        .select("level", "budget"))
      perSource.crossJoin(level)
        .withColumn("alloc",
          expr("least(train_mass, coalesce(level, train_mass))"))
        .select("source", "n_train_docs", "train_mass", "alloc",
          "level", "budget")
        .orderBy("source")
    },

    // DSIR-style hashed-bigram importance scoring (Xie et al. 2023) —
    // data SELECTION by distributional similarity to a target corpus:
    // bigram features hash into 1024 buckets, the per-bucket
    // target/raw frequency ratio (target = the English slice here;
    // production plugs any quality subset) broadcasts as a 1024-row
    // table, and each document scores by the sum of its occurrences'
    // bucket ratios. DSIR's log-ratio sum is deliberately rendered as
    // integer RATIO-MILLIONTHS (sum + div, no log): the selection
    // ORDER is preserved bucket-for-bucket and the output hash-checks
    // cross-engine, where a float log sum would hang on libm ulp
    // differences. Two map-only passes over the corpus (ratio build +
    // score join-back); only (doc, bucket) rows ever shuffle.
    "q186_dsir_importance" -> { (s, dir) =>
      val B = 1024
      val g2 = "if(size(t) < 2, array(), zip_with(slice(t, 1, size(t) - 1), " +
        "slice(t, 2, size(t) - 1), (a, b) -> concat(a, ' ', b)))"
      // fanOut: tokenize + bigram explode + hash is the map cost and it
      // runs twice (ratio table + the scoring join) over a one-task scan
      val feats = Synth.fanOut(Synth.documents(s, dir), "doc_id")
        .select(col("doc_id"), col("source"), col("lang"),
          expr(TextAnalysis.toks).as("t"))
        .select(col("doc_id"), col("source"), col("lang"),
          explode(expr(g2)).as("g"))
        .withColumn("b", expr(u32Spark("dsir:", "g") + s" % $B"))
      val ratios = broadcast(feats.groupBy("b")
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
        .withColumn("ratio_ppm", expr("n_tgt * 1000000 div n_raw"))
        .select("b", "ratio_ppm"))
      feats.join(ratios, "b")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_feats"), sum(col("ratio_ppm")).as("score_ppm"))
        .withColumn("avg_ratio_ppm", expr("score_ppm div n_feats"))
        .select("doc_id", "source", "n_feats", "score_ppm", "avg_ratio_ppm")
        .orderBy("doc_id")
    },

    // Temperature resampling: per-language keep thresholds from the
    // language histogram (tiny, broadcast), then one map-only pass keeps
    // doc iff u32(doc) < floor(sqrt(c_min/c_lang) * 2^32). The rarest
    // language keeps everything; the head language is downsampled toward
    // balance.
    "q64_temperature_resample" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
      val counts = d.groupBy("lang").agg(count(lit(1)).as("c"))
      val thresholds = counts
        .crossJoin(counts.agg(min(col("c")).as("cmin")))
        .withColumn("thresh",
          floor(sqrt(col("cmin").cast("double") / col("c").cast("double"))
            * expr(TwoPow32)).cast("bigint"))
        .select("lang", "thresh")
      d.select(col("doc_id"), col("lang"))
        .withColumn("sample_u",
          expr(u32Spark("resample:", "cast(doc_id as string)")))
        .join(broadcast(thresholds), "lang")
        .filter(col("sample_u") < col("thresh"))
        .select("doc_id", "lang", "sample_u")
        .orderBy("doc_id")
    },

    // Leakage-safe split: the md5 of the SOURCE decides, so co-sourced
    // documents can never straddle train/eval. Hex-string thresholds
    // ('cccc' = 0.8·16^4, 'e666' ≈ 0.9·16^4) keep the compare exact.
    "q65_group_split" -> { (s, dir) =>
      Synth.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("grp_key",
          expr("substring(md5(cast(concat('split:', source) as binary)), 1, 4)"))
        .withColumn("split", expr(
          "CASE WHEN grp_key < 'cccc' THEN 'train' " +
            "WHEN grp_key < 'e666' THEN 'val' ELSE 'test' END"))
        .select("doc_id", "source", "grp_key", "split")
        .orderBy("doc_id")
    },

    // Bloom-filter decontamination — the membership structure that
    // replaces q36's exact broadcast at 100 TB: the eval set compresses
    // to a BloomBits-position set (~KB regardless of eval size; here
    // materialized as a distinct-position table), each probe shingle
    // checks its k=BloomK md5-derived positions, a doc is flagged iff
    // some shingle has ALL k positions set. Zero false negatives by
    // construction; false positives are the price of the compression,
    // so the query also carries the exact answer and an is_fp column —
    // the FP rate is measured, not assumed. Deterministic md5 position
    // hashing makes even the false positives oracle-exact.
    "q49_bloom_decon" -> { (s, dir) =>
      val isEval = col("doc_id") % 97 === 0
      // NO fanOut/checkpoint here (measured r11): the shingle pass feeds
      // four consumers, but materializing it 32-wide (fanOut +
      // localCheckpoint) benched 1.95 -> 2.22 s — the per-row md5 work is
      // under the exchange + checkpoint-job cost at any tested scale, so
      // the narrow re-computed plan stays.
      val sh = Dedup.shingled(s, dir)
      def positions(shingleCol: String): Seq[org.apache.spark.sql.Column] =
        (0 until BloomK).map { i =>
          expr(s"cast(conv(substring(md5(cast(concat($shingleCol, '#b$i') as binary)), 1, 8), 16, 10) as bigint) % $BloomBits")
        }
      val evalPos = sh.filter(isEval)
        .select(explode(col("sh")).as("shingle"))
        .select(array(positions("shingle"): _*).as("ps"))
        .select(explode(col("ps")).as("pos")).distinct()
        .withColumn("set", lit(1))
      val probeSh = sh.filter(!isEval)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      // all_set per DISTINCT shingle, joined back (r12, guide §2.3 —
      // shuffle/compute proxies, not payloads): the corpus repeats each
      // distinct shingle ~9.5× across docs (258k occurrences vs 27k
      // distinct at sf0.1), and the per-occurrence form paid the
      // 3 md5-position hashes and the position join per OCCURRENCE.
      // all_set is a pure function of the shingle, so computing it once
      // per distinct shingle and joining back is algebraically identical
      // (per-doc shingles are already distinct — graft_shingles dedupes
      // — so the old count(set)=k per (doc, shingle) group equals this
      // per-shingle flag). At 100 TB the ratio grows with corpus
      // duplication, exactly when decontamination matters most.
      val shingleAllSet = probeSh.select("shingle").distinct()
        .withColumn("pos", explode(array(positions("shingle"): _*)))
        .join(broadcast(evalPos), Seq("pos"), "left")
        .groupBy("shingle")
        .agg((count(col("set")) === BloomK).as("all_set"))
      val shingleHits = probeSh
        .join(shingleAllSet, "shingle")
        .groupBy("doc_id")
        .agg(max(col("all_set")).as("bloom_hit"))
      val exact = sh.filter(!isEval)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .join(broadcast(sh.filter(isEval)
          .select(explode(col("sh")).as("shingle")).distinct()),
          Seq("shingle"), "left_semi")
        .select("doc_id").distinct().withColumn("exact_hit", lit(true))
      shingleHits
        .join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("exact_hit"), lit(false)).as("exact_hit"))
        .withColumn("is_fp", col("bloom_hit") && !col("exact_hit"))
        .orderBy("doc_id")
    },

    // Exact-k per-stratum sample — q29's Bernoulli form gives BINOMIAL
    // group sizes; this keeps exactly k docs per source: the k SMALLEST
    // salted hashes per group (bottom-k ≡ reservoir sampling,
    // derandomized — deterministic across runs, partitionings, and
    // engines). The bounded-heap graft_topk aggregate is what makes it
    // scale-right: map-side partial heaps, only k rows per group cross
    // the wire — the window row_number rendering (the oracle) sorts
    // every group in full for a k-row answer. u32 hashes are exactly
    // representable in the heap's double score (negated for bottom-k).
    "q29b_reservoir_k" -> { (s, dir) =>
      val k = 20
      Synth.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("u", expr(u32Spark("sample:", "cast(doc_id as string)")))
        .groupBy("source")
        .agg(expr(s"graft_topk(-cast(u as double), doc_id, $k)").as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("doc_id"),
          (-col("col.score")).cast("bigint").as("sample_u"))
        .orderBy("source", "rk")
    },

    // Global deterministic shuffle — the "randomize training order"
    // pass every pipeline runs before sharding: each doc gets a unique
    // global position in salted-hash order, reproducible across runs,
    // partitionings, and engines (no rand()). The position is computed
    // WITHOUT a global sort: hash-RANGE buckets partition the u32 space
    // (bucket order = hash order by construction), ranks are per-bucket
    // windows over ~n/B rows, and bucket offsets are a B-row running
    // sum — the q06/q63 two-pass prefix-sum idea applied to a
    // permutation. The only single-partition window touches B rows,
    // never the corpus; the offsets join broadcasts.
    "q100_global_shuffle" -> { (s, dir) =>
      val B = 64L
      val step = 4294967296L / B
      val d = Synth.documents(s, dir)
        .select(col("doc_id"))
        .withColumn("u", expr(u32Spark("shuffle:", "cast(doc_id as string)")))
        .withColumn("bucket", (col("u") / lit(step)).cast("long"))
      val ranked = d.withColumn("within",
        row_number().over(Window.partitionBy("bucket").orderBy("u", "doc_id"))
          .cast("long"))
      val offsets = d.groupBy("bucket").agg(count(lit(1)).as("n"))
        .withColumn("offset", coalesce(
          sum(col("n")).over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("bucket", "offset")
      ranked.join(broadcast(offsets), "bucket")
        .select(col("doc_id"), col("u").as("shuffle_u"),
          (col("offset") + col("within")).as("pos"))
        .orderBy("pos")
    },

    // Snapshot diff — the dataset-versioning audit run between corpus
    // releases: which docs were added, removed, or changed since the
    // last snapshot? Old snapshot = docs with doc_id % 7 ≠ 0; new
    // snapshot drops doc_id % 11 = 3 and edits the text of doc_id % 5
    // = 0 (derived deterministically from one table so the oracle sees
    // identical snapshots). FULL OUTER join on doc_id, change detection
    // by content hash — never by full-text compare, so the 100 TB scan
    // ships 16-byte digests into the join, not documents. One shuffle
    // (or zero with both snapshots bucketed by doc_id).
    "q103_snapshot_diff" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
      val old_ = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h_old"))
      val new_ = d.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"),
          md5(concat(col("text"),
            when(col("doc_id") % 5 === 0, lit(" [edited]")).otherwise(lit("")))
            .cast("binary")).as("h_new"))
      old_.join(new_, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged"))
        .select("doc_id", "status")
        .orderBy("doc_id")
    },

    // Contamination score: |doc shingles ∩ eval shingles| / |doc
    // shingles| per training doc (eval set = doc_id ≡ 0 mod 97, as q36).
    // The eval shingle set (benchmarks are KBs) collapses to ONE
    // broadcast array row and the corpus pass is array_intersect per doc
    // — map-only at scan speed, no explode and no re-aggregation
    // shuffle of the 100 TB side (the previous explode+groupBy form
    // shuffled |corpus shingles| rows; this shuffles nothing). For an
    // eval suite too big for one array, the fallback is q36's
    // broadcast semi-join shape.
    "q66_contamination_score" -> { (s, dir) =>
      // hits via explode + BROADCAST SEMI-JOIN, not a per-row
      // array_intersect against the broadcast eval array (r8, measured
      // 1.66→~0.9 s at sf0.1): the intersect form re-hashed the WHOLE
      // eval shingle set once per document — per-row × |eval| work, a
      // real hazard as eval suites grow — while the semi-join hashes
      // the broadcast eval set once per task and probes each doc
      // shingle exactly once. graft_shingles output is distinct per
      // doc, so the hit count equals size(array_intersect(sh, eval_sh))
      // exactly; zero-hit docs ride the left join + coalesce.
      val isEval = col("doc_id") % 97 === 0
      val sh = Dedup.shingled(s, dir)
      val evalSet = sh.filter(isEval)
        .select(explode(col("sh")).as("shingle")).distinct()
      val hits = sh.filter(!isEval)
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
        .join(broadcast(evalSet), Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      sh.filter(!isEval)
        .select(col("doc_id"), expr("size(sh)").as("n_sh"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("contamination",
          col("n_hit").cast("double") / col("n_sh").cast("double"))
        .select("doc_id", "n_sh", "n_hit", "contamination")
        .orderBy("doc_id")
    },

    // URL / domain curation — the provenance filter every web corpus
    // runs first: normalize each document's source URL, extract host
    // and registered domain (last two labels) with Spark's NATIVE
    // parse_url (codegen'd; the oracle renders the same grammar with
    // anchored regexes — identical on well-formed URLs, which the
    // synthetic column is by construction), apply a literal domain
    // blocklist, and roll up per-domain doc counts / distinct hosts /
    // tracking-param rate. Everything before the roll-up is map-only;
    // the blocklist is a NOT IN over a literal set (broadcast-trivial
    // at any scale). URLs are synthesized from doc fields the same way
    // Synth renders event lines — the dataset stands in for a crawl's
    // url column.
    "q128_url_domains" -> { (s, dir) =>
      val d = Synth.documents(s, dir)
        .withColumn("url", expr(urlSpark))
        .withColumn("host", expr("parse_url(url, 'HOST')"))
        .withColumn("domain",
          expr("regexp_extract(host, '([^.]+\\\\.[^.]+)$', 1)"))
        .withColumn("ref", expr("parse_url(url, 'QUERY', 'ref')"))
      d.filter(!col("domain").isin(BlockedDomains: _*))
        .groupBy("domain")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(when(col("ref").isNotNull, 1L).otherwise(0L)).as("n_tracked"))
        .orderBy("domain")
    }
  )

  /** Synthetic crawl URL: subdomain cycles on doc_id, the source names
    * the registered domain, an odd doc_id carries a tracking param.
    * One rendering per engine, same grammar.
    */
  private val urlSpark =
    "concat('https://', element_at(array('www.', 'cdn.', ''), " +
      "cast(doc_id % 3 as int) + 1), source, '-corpus.org/', lang, " +
      "'/doc-', cast(doc_id as string), " +
      "if(doc_id % 2 = 1, '?ref=newsletter', ''))"

  private val urlDuck =
    "concat('https://', ['www.', 'cdn.', ''][cast(doc_id % 3 as int) + 1], " +
      "source, '-corpus.org/', lang, '/doc-', cast(doc_id as varchar), " +
      "CASE WHEN doc_id % 2 = 1 THEN '?ref=newsletter' ELSE '' END)"

  /** Domains dropped by the q128 blocklist — the spam/SEO-farm list a
    * curation run maintains; literal here, a broadcast side input in
    * production.
    */
  private val BlockedDomains = Seq("src3-corpus.org", "src7-corpus.org")

  def oracle: Map[String, String] = Map(
    // the same closed-form level over size-sorted prefix sums; window
    // sums come back hugeint in DuckDB → cast to bigint so schemas match
    "q186_dsir_importance" ->
      s"""WITH t AS (SELECT doc_id, source, lang,
         |    ${TextAnalysis.dToks} AS t FROM documents),
         |g AS (
         |  SELECT doc_id, source, lang, unnest(
         |    CASE WHEN len(t) < 2 THEN []::varchar[]
         |      ELSE list_transform(generate_series(1, len(t) - 1),
         |        i -> t[i] || ' ' || t[i + 1]) END) AS g
         |  FROM t),
         |f AS (
         |  SELECT doc_id, source, lang,
         |    (${u32Duck("dsir:", "g")}) % 1024 AS b
         |  FROM g),
         |ratios AS (
         |  SELECT b, cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |    as bigint) * 1000000 // count(*) AS ratio_ppm
         |  FROM f GROUP BY b)
         |SELECT doc_id, source, count(*) AS n_feats,
         |  cast(sum(ratio_ppm) as bigint) AS score_ppm,
         |  cast(sum(ratio_ppm) as bigint) // count(*) AS avg_ratio_ppm
         |FROM f JOIN ratios USING (b)
         |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,

    "q183_curriculum_mix" ->
      s"""${Dedup.duckQ61Reach},
         |clusters AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |sz AS (
         |  SELECT cluster_id, count(*) AS cluster_size
         |  FROM clusters GROUP BY 1),
         |base AS (
         |  SELECT d.doc_id, d.source,
         |    cast(len(${TextAnalysis.dToks}) as bigint) AS n_tokens,
         |    c.cluster_id, s.cluster_size,
         |    CASE WHEN (${u32Duck("clsplit:", "cluster_id::VARCHAR")}) % 16 = 0
         |      THEN 1 ELSE 0 END AS is_eval
         |  FROM documents d
         |    JOIN clusters c USING (doc_id) JOIN sz s USING (cluster_id)),
         |st AS (
         |  SELECT source, count(*) AS n_train_docs,
         |    cast(sum(n_tokens * (1000000 // cluster_size)) as bigint)
         |      AS train_mass
         |  FROM base WHERE is_eval = 0 GROUP BY source),
         |r AS (
         |  SELECT source, train_mass,
         |    cast(row_number() OVER (ORDER BY train_mass, source) as bigint)
         |      AS k,
         |    cast(sum(train_mass) OVER (ORDER BY train_mass, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
         |      AS prefix
         |  FROM st),
         |c AS (
         |  SELECT cast(sum(train_mass) as bigint) * 2 // 5 AS budget,
         |    cast(count(*) as bigint) AS n_src
         |  FROM st),
         |ks AS (
         |  SELECT max(k) AS k_star, max_by(prefix, k) AS pfx
         |  FROM r, c WHERE prefix + train_mass * (n_src - k) <= budget),
         |lvl AS (
         |  SELECT CASE WHEN k_star IS NULL THEN budget // n_src
         |    WHEN k_star = n_src THEN NULL
         |    ELSE (budget - pfx) // (n_src - k_star) END AS level, budget
         |  FROM ks, c)
         |SELECT source, n_train_docs, train_mass,
         |  least(train_mass, coalesce(level, train_mass)) AS alloc,
         |  level, budget
         |FROM st, lvl ORDER BY source""".stripMargin,

    "q178_mix_waterfill" ->
      s"""WITH st AS (
         |  SELECT source, cast(sum(x) as bigint) AS n_tokens
         |  FROM (SELECT source, cast(len(${TextAnalysis.dToks}) as bigint) AS x
         |        FROM documents)
         |  GROUP BY source),
         |r AS (
         |  SELECT source, n_tokens,
         |    cast(row_number() OVER (ORDER BY n_tokens, source) as bigint) AS k,
         |    cast(sum(n_tokens) OVER (ORDER BY n_tokens, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
         |      AS prefix
         |  FROM st),
         |c AS (
         |  SELECT cast(sum(n_tokens) as bigint) * 2 // 5 AS budget,
         |    cast(count(*) as bigint) AS n_src
         |  FROM st),
         |ks AS (
         |  SELECT max(k) AS k_star, max_by(prefix, k) AS pfx
         |  FROM r, c WHERE prefix + n_tokens * (n_src - k) <= budget),
         |lvl AS (
         |  SELECT CASE WHEN k_star IS NULL THEN budget // n_src
         |    WHEN k_star = n_src THEN NULL
         |    ELSE (budget - pfx) // (n_src - k_star) END AS level, budget
         |  FROM ks, c)
         |SELECT source, n_tokens,
         |  least(n_tokens, coalesce(level, n_tokens)) AS alloc, level, budget
         |FROM st, lvl ORDER BY source""".stripMargin,

    "q171_neyman_allocation" ->
      s"""WITH st AS (
         |  SELECT source, count(*) AS n,
         |    cast(sum(x) as bigint) AS sx, cast(sum(x * x) as bigint) AS sxx
         |  FROM (SELECT source, cast(len(${TextAnalysis.dToks}) as bigint) AS x
         |        FROM documents)
         |  GROUP BY source),
         |w AS (
         |  SELECT source, n, cast(n * sxx - sx * sx as bigint) AS var_num,
         |    sqrt(cast(n * sxx - sx * sx as double)) AS weight
         |  FROM st),
         |tot AS (
         |  SELECT list_reduce(list_transform(
         |    list_sort(list(struct_pack(source := source, weight := weight))),
         |    x -> x.weight), (a, b) -> a + b) AS wtot
         |  FROM w)
         |SELECT source, n, var_num,
         |  cast(floor(1000 * weight / (SELECT wtot FROM tot)) as bigint)
         |    AS alloc
         |FROM w ORDER BY source""".stripMargin,

    // the same recursive-reach cluster map; the audit's n_leaky is
    // computed identically to q174's and is 0 because whole clusters
    // route to one side
    "q181_cluster_safe_split" ->
      s"""${Dedup.duckQ61Reach},
         |clusters AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |split AS (
         |  SELECT doc_id, cluster_id,
         |    CASE WHEN (${u32Duck("clsplit:", "cluster_id::VARCHAR")}) % 16 = 0
         |      THEN 1 ELSE 0 END AS is_eval
         |  FROM clusters),
         |mix AS (
         |  SELECT cluster_id, count(*) AS n_total,
         |    cast(sum(is_eval) as bigint) AS n_eval_in
         |  FROM split GROUP BY 1)
         |SELECT d.source AS source, count(*) AS n_docs,
         |  cast(sum(s.is_eval) as bigint) AS n_eval,
         |  cast(sum(CASE WHEN s.is_eval = 1 AND m.n_total > m.n_eval_in
         |    THEN 1 ELSE 0 END) as bigint) AS n_leaky,
         |  cast(sum(s.is_eval) as bigint) * 1000000 // count(*) AS eval_ppm
         |FROM documents d
         |  JOIN split s USING (doc_id)
         |  JOIN mix m USING (cluster_id)
         |GROUP BY d.source ORDER BY source""".stripMargin,

    "q174_eval_leakage" ->
      s"""${Dedup.duckQ61Reach},
         |clusters AS (
         |  SELECT d.doc_id,
         |    least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
         |  GROUP BY d.doc_id),
         |st AS (
         |  SELECT source, count(*) AS n,
         |    cast(sum(x) as bigint) AS sx, cast(sum(x * x) as bigint) AS sxx
         |  FROM (SELECT source, cast(len(${TextAnalysis.dToks}) as bigint) AS x
         |        FROM documents)
         |  GROUP BY source),
         |w AS (
         |  SELECT source, sqrt(cast(n * sxx - sx * sx as double)) AS weight
         |  FROM st),
         |tot AS (
         |  SELECT list_reduce(list_transform(
         |    list_sort(list(struct_pack(source := source, weight := weight))),
         |    x -> x.weight), (a, b) -> a + b) AS wtot
         |  FROM w),
         |alloc AS (
         |  SELECT source,
         |    cast(floor(1000 * weight / (SELECT wtot FROM tot)) as bigint)
         |      AS alloc
         |  FROM w),
         |ranked AS (
         |  SELECT doc_id, source,
         |    cast(row_number() OVER (PARTITION BY source
         |      ORDER BY md5(cast(doc_id as varchar)), doc_id) as bigint) AS rk
         |  FROM documents),
         |ev AS (
         |  SELECT r.doc_id, r.source
         |  FROM ranked r JOIN alloc USING (source) WHERE rk <= alloc),
         |flagged AS (
         |  SELECT c.doc_id, c.cluster_id,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_eval
         |  FROM clusters c LEFT JOIN ev e ON e.doc_id = c.doc_id),
         |mix AS (
         |  SELECT cluster_id, count(*) AS n_total,
         |    cast(sum(is_eval) as bigint) AS n_eval_in
         |  FROM flagged GROUP BY 1)
         |SELECT e.source AS source, count(*) AS n_eval,
         |  cast(sum(CASE WHEN m.n_total > m.n_eval_in THEN 1 ELSE 0 END)
         |    as bigint) AS n_leaky,
         |  cast(sum(CASE WHEN m.n_total > m.n_eval_in THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) as bigint) AS leak_ppm
         |FROM ev e
         |  JOIN flagged f ON f.doc_id = e.doc_id
         |  JOIN mix m ON m.cluster_id = f.cluster_id
         |GROUP BY e.source ORDER BY source""".stripMargin,

    "q172_stratified_eval_draw" ->
      s"""WITH st AS (
         |  SELECT source, count(*) AS n,
         |    cast(sum(x) as bigint) AS sx, cast(sum(x * x) as bigint) AS sxx
         |  FROM (SELECT source, cast(len(${TextAnalysis.dToks}) as bigint) AS x
         |        FROM documents)
         |  GROUP BY source),
         |w AS (
         |  SELECT source, sqrt(cast(n * sxx - sx * sx as double)) AS weight
         |  FROM st),
         |tot AS (
         |  SELECT list_reduce(list_transform(
         |    list_sort(list(struct_pack(source := source, weight := weight))),
         |    x -> x.weight), (a, b) -> a + b) AS wtot
         |  FROM w),
         |alloc AS (
         |  SELECT source,
         |    cast(floor(1000 * weight / (SELECT wtot FROM tot)) as bigint)
         |      AS alloc
         |  FROM w),
         |ranked AS (
         |  SELECT doc_id, source,
         |    cast(row_number() OVER (PARTITION BY source
         |      ORDER BY md5(cast(doc_id as varchar)), doc_id) as bigint) AS rk
         |  FROM documents)
         |SELECT r.source AS source, doc_id, rk, alloc
         |FROM ranked r JOIN alloc USING (source)
         |WHERE rk <= alloc
         |ORDER BY source, rk""".stripMargin,

    "q162_curriculum_interleave" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    cast(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) as bigint) AS r
        |  FROM documents)
        |SELECT cast(row_number() OVER (ORDER BY r, source) as bigint)
        |    AS global_pos,
        |  doc_id, source, r
        |FROM d ORDER BY global_pos""".stripMargin,

    "q128_url_domains" ->
      s"""WITH d AS (
         |  SELECT $urlDuck AS url FROM documents),
         |p AS (
         |  SELECT url,
         |    regexp_extract(url, '^[a-z]+://([^/?]+)', 1) AS host,
         |    nullif(regexp_extract(url, 'ref=([^&]*)', 1), '') AS ref
         |  FROM d),
         |r AS (
         |  SELECT host, ref,
         |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
         |  FROM p)
         |SELECT domain, count(*) AS n_docs,
         |  cast(count(DISTINCT host) as bigint) AS n_hosts,
         |  cast(sum(CASE WHEN ref IS NOT NULL THEN 1 ELSE 0 END) as bigint)
         |    AS n_tracked
         |FROM r
         |WHERE domain NOT IN (${BlockedDomains.map("'" + _ + "'").mkString(", ")})
         |GROUP BY domain ORDER BY domain""".stripMargin,

    "q64_temperature_resample" ->
      s"""WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
         |m AS (SELECT min(c) AS cmin FROM c),
         |r AS (
         |  SELECT lang,
         |    cast(floor(sqrt(cast(cmin as double) / cast(c as double))
         |      * $TwoPow32) as bigint) AS thresh
         |  FROM c, m)
         |SELECT d.doc_id AS doc_id, d.lang AS lang,
         |  ${u32Duck("resample:", "cast(d.doc_id as varchar)")} AS sample_u
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${u32Duck("resample:", "cast(d.doc_id as varchar)")} < r.thresh
         |ORDER BY doc_id""".stripMargin,

    "q65_group_split" ->
      """SELECT doc_id, source,
        | substring(md5('split:' || source), 1, 4) AS grp_key,
        | CASE WHEN substring(md5('split:' || source), 1, 4) < 'cccc' THEN 'train'
        |   WHEN substring(md5('split:' || source), 1, 4) < 'e666' THEN 'val'
        |   ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q49_bloom_decon" -> {
      val posExprs = (0 until BloomK).map { i =>
        s"cast(('0x' || substring(md5(shingle || '#b$i'), 1, 8)) as bigint) % $BloomBits"
      }
      s"""WITH shs AS (SELECT doc_id, ${Dedup.dShingles} AS sh FROM documents),
         |evsh AS (
         |  SELECT DISTINCT unnest(sh) AS shingle FROM shs WHERE doc_id % 97 = 0),
         |evpos AS (
         |  SELECT DISTINCT unnest([${posExprs.mkString(", ")}]) AS pos FROM evsh),
         |probe AS (
         |  SELECT doc_id, shingle, unnest([${posExprs.mkString(", ")}]) AS pos
         |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM shs
         |        WHERE doc_id % 97 <> 0)),
         |shhit AS (
         |  SELECT doc_id, shingle,
         |    count(evpos.pos) = $BloomK AS all_set
         |  FROM probe LEFT JOIN evpos ON probe.pos = evpos.pos
         |  GROUP BY doc_id, shingle),
         |bloom AS (
         |  SELECT doc_id, max(all_set) AS bloom_hit FROM shhit GROUP BY doc_id),
         |exact AS (
         |  SELECT DISTINCT doc_id FROM
         |    (SELECT doc_id, unnest(sh) AS shingle FROM shs WHERE doc_id % 97 <> 0) t
         |  WHERE shingle IN (SELECT shingle FROM evsh))
         |SELECT b.doc_id AS doc_id, b.bloom_hit AS bloom_hit,
         |  e.doc_id IS NOT NULL AS exact_hit,
         |  b.bloom_hit AND e.doc_id IS NULL AS is_fp
         |FROM bloom b LEFT JOIN exact e ON e.doc_id = b.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    "q103_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS h_old FROM documents
        |  WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT doc_id,
        |    md5(text || CASE WHEN doc_id % 5 = 0 THEN ' [edited]' ELSE '' END)
        |      AS h_new
        |  FROM documents WHERE doc_id % 11 <> 3)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |    WHEN n.doc_id IS NULL THEN 'removed'
        |    WHEN o.h_old <> n.h_new THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q100_global_shuffle" ->
      s"""SELECT doc_id, u AS shuffle_u,
         |  cast(row_number() OVER (ORDER BY u, doc_id) as bigint) AS pos
         |FROM (SELECT doc_id,
         |    ${u32Duck("shuffle:", "cast(doc_id as varchar)")} AS u
         |  FROM documents)
         |ORDER BY pos""".stripMargin,

    "q29b_reservoir_k" ->
      s"""SELECT source, rk, doc_id, sample_u FROM (
         |  SELECT source, doc_id,
         |    ${u32Duck("sample:", "cast(doc_id as varchar)")} AS sample_u,
         |    cast(row_number() OVER (PARTITION BY source
         |      ORDER BY ${u32Duck("sample:", "cast(doc_id as varchar)")},
         |        doc_id) as int) AS rk
         |  FROM documents)
         |WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    "q66_contamination_score" ->
      s"""WITH shs AS (SELECT doc_id, ${Dedup.dShingles} AS sh FROM documents),
         |ev AS (
         |  SELECT DISTINCT unnest(sh) AS shingle FROM shs WHERE doc_id % 97 = 0),
         |tr AS (
         |  SELECT doc_id, cast(len(sh) as int) AS n_sh, unnest(sh) AS shingle
         |  FROM shs WHERE doc_id % 97 <> 0)
         |SELECT tr.doc_id AS doc_id, tr.n_sh AS n_sh,
         |  cast(count(ev.shingle) as bigint) AS n_hit,
         |  cast(count(ev.shingle) as double) / tr.n_sh AS contamination
         |FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
         |GROUP BY tr.doc_id, tr.n_sh
         |ORDER BY doc_id""".stripMargin
  )
}
