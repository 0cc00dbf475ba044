package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Full relational query surface — joins / aggregations / windows / sorts /
  * set-ops / rollup / sessionization.
  *
  * The reference has none of these (SURVEY §2.3/§2.5–§2.7 mark them absent:
  * it is a single-input ETL loader), but a user switching to this engine
  * gets them via Catalyst built-ins; these queries pin the semantics against
  * the DuckDB oracle and double as the bench headline set.
  *
  * Float-determinism policy: every aggregated money/quantity column goes
  * through decimal(18,2) so Spark and DuckDB do exact decimal arithmetic
  * and produce bit-identical doubles after the final cast; raw double
  * columns are only ever passed through (same bits) or compared (same
  * ordering), never re-accumulated in binary floating point.
  */
object Relational extends QueryFamily {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Rank-guarantee verdict for a GK quantile sketch value (the r9
    * verdict's approx-vs-exact-twin gate): `approx_percentile(x, p, acc)`
    * returns an ELEMENT whose rank error is ≤ n/acc — a HARD worst-case
    * bound of the Greenwald–Khanna summary, deterministic under any
    * partition/merge order, not a probabilistic one. The verdict mirrors
    * SketchErrorSpec.assertRank: the element's rank span [#(x<v), #(x≤v)]
    * must cover the continuous target index p·(n−1)+1 within 3·n/acc + 1
    * ranks (3× the guarantee; +1 absorbs the interpolation convention).
    * Emitted as an int column the DuckDB oracle asserts ≡ 1 — a violated
    * bound hash-mismatches and fails the correctness gate.
    */
  private def rankOk(p: Double, acc: Double,
      rlo: org.apache.spark.sql.Column, rhi: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nd = n.cast("double")
    val target = lit(p) * (nd - 1) + 1
    val slack = lit(3.0 / acc) * nd + 1
    when(rhi > rlo && target >= rlo.cast("double") - slack &&
      target <= rhi.cast("double") + 1 + slack, 1).otherwise(0)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: the canonical partial-agg shape
    // (map-side combine → final agg; no shuffle of raw rows).
    "q10_pricing_summary" -> { (s, dir) =>
      Synth.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
            .cast("double").as("sum_disc_price"),
          sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
            * dec(lit(1) + col("l_tax"))).cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Star join: fact (orders→customer) with broadcast dims (nation,
    // region). At 100 TB the orders⋈customer join shuffles on the key;
    // nation/region are broadcast so they never shuffle.
    "q11_revenue_by_nation" -> { (s, dir) =>
      val o = Synth.orders(s, dir)
      val c = Synth.customer(s, dir)
      val n = Synth.nation(s, dir)
      val r = Synth.region(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")
    },

    // TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    // orders ⋈ lineitem with the date split (ordered before / shipped
    // after the pivot), revenue-ranked unshipped orders. Both date
    // filters and the segment filter reach the scans (pushdown); the
    // two fact joins shuffle on their keys and AQE picks build sides.
    // Decimal-exact revenue, deterministic top-10 (revenue DESC,
    // orderkey).
    "q137_shipping_priority" -> { (s, dir) =>
      val c = Synth.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Synth.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-06-30"))
      val l = Synth.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-06-30"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // TPC-H Q5 shape (local supplier volume): the 6-table join with the
    // LOCAL constraint c_nationkey = s_nationkey — revenue only counts
    // when the customer's and the line's supplier's nations agree.
    // nation/region broadcast; the three fact joins shuffle on their
    // keys; one year of orders via scan-pushed date bounds.
    "q138_local_supplier_volume" -> { (s, dir) =>
      val c = Synth.customer(s, dir)
      val o = Synth.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val l = Synth.lineitem(s, dir)
      val sup = Synth.supplier(s, dir)
      val n = Synth.nation(s, dir)
      val r = Synth.region(s, dir).filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // Table profiler — the ANALYZE-style stats pass a lakehouse runs per
    // snapshot: row count, per-column non-null count, exact distinct
    // count, min/max, for three numeric columns in ONE aggregation over
    // the fact table (Spark plans the multi-distinct via Expand — still
    // a single scan), then a map-only stack to one row per column.
    "q139_table_profile" -> { (s, dir) =>
      // fanOut before the Expand ×4 partial aggregate was A/B-measured
      // in r11 and came out FLAT (1.16→1.20 s): the multi-distinct
      // partial agg already combines map-side, so the exchange buys
      // nothing — narrow plan kept
      Synth.lineitem(s, dir)
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("l_quantity")).as("nn_q"),
          countDistinct(col("l_quantity")).as("nd_q"),
          min(col("l_quantity")).as("mn_q"), max(col("l_quantity")).as("mx_q"),
          count(col("l_extendedprice")).as("nn_e"),
          countDistinct(col("l_extendedprice")).as("nd_e"),
          min(col("l_extendedprice")).as("mn_e"),
          max(col("l_extendedprice")).as("mx_e"),
          count(col("l_discount")).as("nn_d"),
          countDistinct(col("l_discount")).as("nd_d"),
          min(col("l_discount")).as("mn_d"), max(col("l_discount")).as("mx_d"))
        .selectExpr("n_rows", """stack(3,
            'l_quantity', nn_q, nd_q, mn_q, mx_q,
            'l_extendedprice', nn_e, nd_e, mn_e, mx_e,
            'l_discount', nn_d, nd_d, mn_d, mx_d)
          AS (column_name, n_nonnull, n_distinct, min_val, max_val)""")
        .orderBy("column_name")
    },

    // Ranking window: top-3 orders per customer (deterministic tiebreak).
    "q12_top_orders_per_cust" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Synth.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
    },

    // Left-semi join (EXISTS): customers having a recent order.
    "q13_semi_join" -> { (s, dir) =>
      val c = Synth.customer(s, dir)
      val o = Synth.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },

    // Left-anti join (NOT EXISTS): parts with no recent shipment.
    "q14_anti_join" -> { (s, dir) =>
      val p = Synth.part(s, dir)
      val l = Synth.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("2001-06-01"))
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy("p_brand")
    },

    // Set operations: INTERSECT / EXCEPT with distinct semantics.
    "q15_setops" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val purchase = ev.filter(col("event_type") === "purchase").select("user_id")
      val signup = ev.filter(col("event_type") === "signup").select("user_id")
      purchase.intersect(signup).withColumn("tag", lit("both"))
        .unionByName(purchase.except(signup).withColumn("tag", lit("purchase_only")))
        .select(col("tag"), col("user_id"))
        .orderBy("tag", "user_id")
    },

    // Rollup (hierarchical subtotals); subtotal NULLs rendered as '(all)'
    // so ordering is engine-independent.
    "q16_rollup" -> { (s, dir) =>
      // project + fan out the one-task scan (r11, measured): rollup's
      // Expand ×3 and the decimal partial sums otherwise run on one core
      Synth.fanOut(Synth.lineitem(s, dir)
          .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity"),
          "l_orderkey")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    },

    // Sessionization: lag + gap>30min flag + running sum per user — the
    // standard event-stream window composition.
    "q17_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Synth.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_seq", sum(col("new_sess")).over(wRun))
        .select(col("user_id"), col("event_id"), col("session_seq"))
        .orderBy("user_id", "event_id")
    },

    // Distinct aggregation: exact distinct users per event type.
    "q18_distinct_users" -> { (s, dir) =>
      Synth.events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },

    // As-of join (operator Spark lacks natively — see AsOfJoin): each
    // purchase matched to the user's most recent prior-or-same-time view.
    "q19_asof_join" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"),
          col("ts").as("view_ts"))
      AsOfJoin.asof(purchases, views, "user_id", "ts", "view_ts")
        .select(
          col("event_id"), col("user_id"),
          col("asof.view_event_id").as("matched_view_id"),
          date_format(col("asof.view_ts"), "yyyy-MM-dd HH:mm:ss.SSS")
            .as("matched_view_ts"))
        .orderBy("event_id")
    },

    // Correlated scalar subquery — parts priced above their brand's
    // average. Catalyst decorrelates this into an aggregate + join; the
    // DataFrame formulation makes that rewrite explicit and shuffle-true.
    "q45_above_brand_avg" -> { (s, dir) =>
      val p = Synth.part(s, dir)
      val brandAvg = p.groupBy(col("p_brand").as("b"))
        .agg((sum(dec(col("p_retailprice"))).cast("double") / count(lit(1)))
          .as("avg_price"))
      p.join(broadcast(brandAvg), col("p_brand") === col("b"))
        .filter(col("p_retailprice") > col("avg_price"))
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"), col("avg_price"))
        .orderBy("p_partkey")
    },

    // Per-group top-k WITHOUT the window sort: the native
    // [[graft.functions.TopKByScore]] aggregate keeps a k-bounded heap
    // per group (O(log k) updates, map-side partial agg, k rows per
    // group across the wire) where the row_number window idiom (q12)
    // sorts every group in full. Same deterministic (score DESC, id ASC)
    // order — the oracle IS the window rendering.
    "q74_topk_per_group" -> { (s, dir) =>
      Synth.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(expr("graft_topk(o_totalprice, o_orderkey, 3)").as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("int").as("rk"),
          col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"))
        .orderBy("o_orderpriority", "rk")
    },

    // The wider window-function surface in one query: lead, first_value,
    // ntile, percent_rank, cume_dist over per-user event-time order.
    // percent_rank/cume_dist are exact small-integer ratios, so the
    // doubles are bit-identical cross-engine; ties in ts break on
    // event_id for full determinism.
    "q72_window_suite" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Synth.events(s, dir)
        .select(col("event_id"), col("user_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          first(col("event_id")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_id"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("event_id")
    },

    // CUBE with grouping ids — all four aggregation levels of
    // (event_type × user_id) in one pass. Spark plans cube as a single
    // Expand + one shuffle, not 4 scans. Output ordered by grouping ids
    // first so the NULL super-aggregate rows sort identically in both
    // engines (their default NULL order differs).
    "q73_cube" -> { (s, dir) =>
      Synth.events(s, dir)
        .cube(col("event_type"), col("user_id"))
        .agg(
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("user_id")).cast("int").as("g_user"),
          count(lit(1)).as("n"),
          sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("g_type"), col("g_user"),
          col("event_type").asc_nulls_first, col("user_id").asc_nulls_first)
    },

    // Correlated scalar subquery (TPC-H Q17 shape) through the SQL entry
    // path: small-quantity lineitems vs 0.2× the per-part average.
    // Catalyst decorrelates the subquery into an aggregate + join — no
    // per-row re-execution — and the DataFrame and SQL surfaces share one
    // optimizer, so everything the other queries pin (pushdown, broadcast,
    // partial agg) holds here too. Quantities are whole numbers stored as
    // doubles, so sums/averages are exact and the threshold compare is
    // bit-identical across engines.
    "q70_correlated_subquery" -> { (s, dir) =>
      Synth.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Synth.part(s, dir).createOrReplaceTempView("part")
      s.sql("""
        SELECT l_partkey, count(*) AS n_small,
          cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
            AS small_revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY l_partkey ORDER BY l_partkey""")
    },

    // Correlated EXISTS (TPC-H Q4 shape): orders with any high-quantity
    // line, counted by priority. Decorrelates to a left-semi join.
    "q71_exists_subquery" -> { (s, dir) =>
      Synth.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Synth.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // Pivot — long-to-wide reshaping with an EXPLICIT value list. Spark
    // plans this as a pre-aggregate on (group, pivot-value) followed by a
    // pivotfirst aggregate on the group — both with map-side partials, so
    // only group-count-sized rows ever shuffle. The fixed value list is
    // what keeps it scale-safe — an unlisted pivot would need a
    // distinct-values pre-pass and a dynamic schema.
    "q75_pivot" -> { (s, dir) =>
      // fanOut before the pivot partial aggregate was A/B-measured in
      // r11 and REJECTED (0.48→0.77 s) — the exchange costs more than
      // the one-task partial agg it spreads
      Synth.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    },

    // Full-outer join over pre-aggregated sides — the reconciliation
    // shape (both sides keyed, either may be absent). Aggregating BEFORE
    // the join shrinks both inputs to one row per key, so the outer join
    // shuffles group counts, not raw rows; coalesce supplies the
    // zero-filled identity for unmatched keys. At sf0.01 only 4 of 25
    // nations have negative-balance suppliers, so both null sides are
    // genuinely exercised.
    "q76_full_outer" -> { (s, dir) =>
      val cust = Synth.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_customers"))
      val supp = Synth.supplier(s, dir)
        .filter(col("s_acctbal") < 0)
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
      cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy("nationkey")
    },

    // GROUPING SETS — the explicit-level cousin of q73's CUBE: exactly
    // the levels asked for ((pri, status), (pri), ()), one Expand + one
    // shuffle, not one scan per level. SQL path, same text both engines.
    "q77_grouping_sets" -> { (s, dir) =>
      Synth.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority, o_orderstatus,
          cast(grouping(o_orderpriority) as int) AS g_pri,
          cast(grouping(o_orderstatus) as int) AS g_st,
          count(*) AS n,
          cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        ORDER BY g_pri, g_st, o_orderpriority NULLS FIRST,
          o_orderstatus NULLS FIRST""")
    },

    // Typed JSON round-trip: to_json over a sorted struct array, then
    // from_json back through an explicit DDL schema and re-explosion —
    // the schema-full half of the JSON surface (the loader path uses
    // schema-less get_json_object). The oracle is the plain projection:
    // a hash match proves serialize∘parse is the identity, including
    // field order and long/string typing through the JSON text.
    "q98_json_roundtrip" -> { (s, dir) =>
      val arr = Synth.events(s, dir)
        .groupBy("user_id")
        .agg(sort_array(collect_list(
          struct(col("event_id"), col("event_type")))).as("evs"))
        .withColumn("js", to_json(col("evs")))
      arr
        .withColumn("parsed", from_json(col("js"),
          org.apache.spark.sql.types.DataType.fromDDL(
            "array<struct<event_id: bigint, event_type: string>>")))
        .select(col("user_id"), explode(col("parsed")).as("e"))
        .select(col("user_id"), col("e.event_id").as("event_id"),
          col("e.event_type").as("event_type"))
        .orderBy("user_id", "event_id")
    },

    // Robust outlier detection (median absolute deviation): per group,
    // med = median(x), MAD = median(|x − med|), outlier ⇔ |x − med| >
    // 3·MAD — the curation filter that survives heavy tails where
    // mean/stddev get dragged by the outliers themselves. Two aggregate
    // passes + two tiny broadcasts; every double op (interpolated
    // median, subtraction, abs, one multiply) is correctly rounded in a
    // fixed order, so the stats AND the outlier counts hash-match. Same
    // scale note as q84: exact medians for oracle-checkability; q97b is
    // the production approx_percentile twin at the same shape.
    "q97_robust_outliers" -> { (s, dir) =>
      val ev = Synth.events(s, dir).select(col("event_type"), col("value"))
      val meds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(meds), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mads = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },

    // q97 at production scale: the two exact medians (O(distinct-values)
    // aggregation state) swap for approx_percentile — a mergeable sketch
    // with state bounded by the accuracy parameter, independent of data
    // volume — at the IDENTICAL two-pass + broadcast shape. Estimates
    // are engine-specific, so the output is the exact q97 twin row plus
    // med_ok/mad_ok [[rankOk]] verdicts the oracle asserts ≡ 1 (r9
    // verdict #2). The MAD sketch consumed |value − approx_med|, so its
    // rank verdict runs over THAT deviation distribution — the one the
    // guarantee actually applies to — not the exact-median deviations.
    "q97b_robust_outliers_approx" -> { (s, dir) =>
      val ev = Synth.events(s, dir).select(col("event_type"), col("value"))
      val medsA = ev.groupBy("event_type")
        .agg(expr("approx_percentile(value, 0.5, 10000)").as("med_a"))
      val devA = ev.join(broadcast(medsA), "event_type")
        .withColumn("dev_a", abs(col("value") - col("med_a")))
      val madsA = devA.groupBy("event_type")
        .agg(expr("approx_percentile(dev_a, 0.5, 10000)").as("mad_a"))
      val ranks = devA.join(broadcast(madsA), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("med_a"), 1L).otherwise(0L)).as("rloM"),
          sum(when(col("value") <= col("med_a"), 1L).otherwise(0L)).as("rhiM"),
          sum(when(col("dev_a") < col("mad_a"), 1L).otherwise(0L)).as("rloD"),
          sum(when(col("dev_a") <= col("mad_a"), 1L).otherwise(0L)).as("rhiD"))
      val meds = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(meds), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mads = dev.groupBy("event_type")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      val exact = dev.join(broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      exact.join(ranks, "event_type")
        .select(col("event_type"), col("med"), col("mad"), col("n_outliers"),
          rankOk(0.5, 10000, col("rloM"), col("rhiM"), col("n")).as("med_ok"),
          rankOk(0.5, 10000, col("rloD"), col("rhiD"), col("n")).as("mad_ok"))
        .orderBy("event_type")
    },

    // Rolling 7-day distinct users (DAU/WAU): count-distinct over a
    // sliding window — not directly expressible as a window aggregate in
    // either engine, so the scale-correct decomposition: compact to
    // per-day USER SETS first (one shuffle on the day; output = calendar
    // days, independent of data volume), then merge sets over a 7-day
    // range frame. The only unpartitioned window runs over #days rows —
    // a cardinality that does NOT grow with the corpus (same argument as
    // PrefixSum's offsets window). Production swaps the exact sets for
    // mergeable HLL sketches at identical plan shape.
    "q96_rolling_dau" -> { (s, dir) =>
      val du = Synth.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val daySets = du.groupBy("d")
        .agg(collect_set(col("user_id")).as("us"), count(lit(1)).as("dau"))
      val w = Window.orderBy(col("dn")).rangeBetween(-6, 0)
      daySets
        .withColumn("dn", datediff(col("d"), lit("2024-01-01").cast("date")))
        .withColumn("wau",
          size(array_distinct(flatten(collect_list(col("us")).over(w)))))
        .select("d", "dau", "wau")
        .orderBy("d")
    },

    // The promised production form of q96: per-day mergeable HLL
    // sketches instead of exact user sets, at the IDENTICAL plan shape
    // (one shuffle on the day, a #days-row range-frame window). The
    // difference is the day-row payload: collect_set makes each day row
    // O(DAU) bytes (GBs at 100 TB scale); an HLL sketch is a fixed few
    // KB regardless of cardinality, and sketches union losslessly inside
    // the window frame (hll_union_agg — DataSketches HLL, the same
    // mergeability contract q44 exercises). Estimates are
    // engine-specific, so the output is the EXACT day row (the q96 twin,
    // computed alongside) plus dau_ok/wau_ok verdicts that each HLL
    // estimate sits within 3 standard errors (3·1.04/√2^12 for the
    // default lgConfigK = 12) of the exact count — asserted ≡ 1 by the
    // oracle (r9 verdict #2). HLL registers are max-merged, so the
    // estimate is a deterministic function of the user SET, partition
    // order included — the verdict is stable, not flaky.
    "q96b_rolling_dau_hll" -> { (s, dir) =>
      val du = Synth.events(s, dir)
        .select(to_date(col("ts")).as("d"), col("user_id"))
      val w = Window.orderBy(col("dn")).rangeBetween(-6, 0)
      val est = du.groupBy("d")
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .withColumn("dn", datediff(col("d"), lit("2024-01-01").cast("date")))
        .withColumn("dau_e", hll_sketch_estimate(col("sk")))
        .withColumn("wau_e",
          hll_sketch_estimate(hll_union_agg(col("sk")).over(w)))
        .select("d", "dau_e", "wau_e")
      val daySets = du.distinct().groupBy("d")
        .agg(collect_set(col("user_id")).as("us"), count(lit(1)).as("dau"))
      val exact = daySets
        .withColumn("dn", datediff(col("d"), lit("2024-01-01").cast("date")))
        .withColumn("wau",
          size(array_distinct(flatten(collect_list(col("us")).over(w)))))
        .select("d", "dau", "wau")
      val eps = 3 * 1.04 / math.sqrt(1 << 12) // ≈ 0.0488
      def ok(e: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =
        when(abs(e - x.cast("double"))
          <= greatest(x.cast("double") * eps, lit(3.0)), 1).otherwise(0)
      exact.join(est, "d")
        .select(col("d"), col("dau"), col("wau"),
          ok(col("dau_e"), col("dau")).as("dau_ok"),
          ok(col("wau_e"), col("wau")).as("wau_ok"))
        .orderBy("d")
    },

    // Time-series gap fill + forward fill: a complete per-user daily
    // calendar spine (map-only sequence+explode — never a cartesian
    // against a date table), activity counts zero-filled, and the
    // last-seen event type carried forward over silent days
    // (last(ignoreNulls) over an ordered per-user frame) — the
    // state-as-of-day shape of financial/IoT time series. The per-day
    // last event is max(struct(ts, event_id, type)) here and a
    // row_number DESC in the oracle: two formulations, one value.
    "q95_gap_fill" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val daily = ev.withColumn("d", to_date(col("ts")))
        .groupBy("user_id", "d")
        .agg(count(lit(1)).as("n"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("le"))
        .select(col("user_id"), col("d"), col("n"),
          col("le.event_type").as("day_last_type"))
      val bounds = ev.agg(
        min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      val spine = ev.select("user_id").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "d"), "left")
        .withColumn("n_events", coalesce(col("n"), lit(0L)))
        .withColumn("state_type",
          last(col("day_last_type"), ignoreNulls = true).over(w))
        .select("user_id", "d", "n_events", "state_type")
        .orderBy("user_id", "d")
    },

    // Ratio-to-report: each nation's share of its region's revenue — the
    // percent-of-total window (sum over an unordered partition frame).
    // Numerator and denominator both pass through decimal(18,2) sums, so
    // the single share division is cross-engine-exact.
    "q92_revenue_share" -> { (s, dir) =>
      val rev = Synth.customer(s, dir)
        .join(Synth.orders(s, dir),
          col("c_custkey") === col("o_custkey"))
        .join(broadcast(Synth.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("regionkey"), col("n_name").as("nation"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      rev.withColumn("region_rev",
          sum(col("rev")).over(Window.partitionBy("regionkey")))
        .withColumn("share",
          col("rev").cast("double") / col("region_rev").cast("double"))
        .select(col("regionkey"), col("nation"),
          col("rev").cast("double").as("revenue"), col("share"))
        .orderBy("regionkey", "nation")
    },

    // FILTER-clause aggregates — several conditionally-filtered
    // aggregates in ONE pass over one scan (the idiom that replaces N
    // self-joins for side-by-side conditional stats). SQL path, same
    // text both engines.
    "q93_filtered_agg" -> { (s, dir) =>
      Synth.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""
        SELECT o_orderpriority,
          count(*) AS n,
          count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
          count(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
          cast(sum(cast(o_totalprice as decimal(18,2)))
            FILTER (WHERE o_orderstatus = 'O') as double) AS open_revenue
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },

    // Ordered string aggregation: deterministic listagg via sorted
    // collect — group members concatenated in a TOTAL order, so the
    // string is reproducible across partitionings and engines (an
    // unordered listagg is not a well-defined value).
    "q94_string_agg" -> { (s, dir) =>
      Synth.nation(s, dir)
        .groupBy(col("n_regionkey").as("regionkey"))
        .agg(
          concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
          count(lit(1)).as("n"))
        .orderBy("regionkey")
    },

    // Association mining (market-basket): lift between event-type pairs
    // over per-user baskets. PMI's log is not cross-engine-exact; LIFT
    // is the same ordering in rational form — (n_ab · N) / (n_a · n_b)
    // from exact integer counts, one IEEE division. The basket self-join
    // is per-user (bounded by basket size, never the type² space times
    // users), and the distinct pass compacts the corpus to |users|×|types|
    // first.
    "q90_event_lift" -> { (s, dir) =>
      val ut = Synth.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = Synth.events(s, dir)
        .agg(countDistinct(col("user_id")).as("n_users"))
      val singles = ut.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      val a = ut.toDF("user_id", "t_a")
      val b = ut.toDF("user_id", "t_b")
      a.join(b, "user_id")
        .filter(col("t_a") < col("t_b"))
        .groupBy("t_a", "t_b").agg(count(lit(1)).as("n_ab"))
        .join(singles.toDF("t_a", "n_a"), "t_a")
        .join(singles.toDF("t_b", "n_b"), "t_b")
        .crossJoin(broadcast(nUsers))
        .withColumn("lift",
          (col("n_ab") * col("n_users")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"))
        .select("t_a", "t_b", "n_ab", "lift")
        .orderBy("t_a", "t_b")
    },

    // Inter-event time distribution: per-user think-time gaps bucketed
    // by decade — the latency-histogram primitive over event-time lag.
    // Gap arithmetic is integer microseconds end-to-end; one window +
    // one small aggregate.
    "q91_interevent_hist" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Synth.events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap_s",
          expr("(unix_micros(ts) - unix_micros(prev)) div 1000000"))
        .withColumn("bucket",
          when(col("gap_s") < 10, 0).when(col("gap_s") < 100, 1)
            .when(col("gap_s") < 1000, 2).when(col("gap_s") < 10000, 3)
            .otherwise(4))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
        .orderBy("bucket")
    },

    // UNPIVOT — q75's inverse: melt the pivoted wide table back to
    // (key, variable, value) rows. Wide-to-long is a zero-shuffle
    // Expand over the already-aggregated rows; null cells (combinations
    // absent from the data) are dropped to land exactly on the plain
    // long-form aggregate, which is the oracle — so the hash match
    // proves pivot∘unpivot is the identity on present combinations.
    "q89_unpivot" -> { (s, dir) =>
      Synth.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast("double"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("F"), col("O")), "l_linestatus", "qty")
        .filter(col("qty").isNotNull)
        .orderBy("l_returnflag", "l_linestatus")
    },

    // Fuzzy string matching: supplier-name pairs within edit distance 2,
    // blocked by nation (the generic fuzzy-dedup shape: block on a cheap
    // equality key, exact Levenshtein — a well-defined integer DP metric,
    // identical across engines — only inside blocks; never all-pairs).
    "q87_edit_distance" -> { (s, dir) =>
      val sup = Synth.supplier(s, dir).select(
        col("s_suppkey"), col("s_nationkey"), col("s_name"))
      val a = sup.toDF("id_a", "nk", "name_a")
      val b = sup.toDF("id_b", "nk", "name_b")
      a.join(b, "nk")
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 2)
        .select(col("nk").as("nationkey"), col("id_a"), col("id_b"), col("dist"))
        .orderBy("nationkey", "id_a", "id_b")
    },

    // Calendar-function projection over order dates: truncation, month
    // ends, day extraction, month arithmetic — the date surface a
    // reporting layer leans on, all exact calendar integers (no
    // timezone arithmetic — o_orderdate is a DATE).
    "q88_calendar" -> { (s, dir) =>
      Synth.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"))
        .withColumn("month_start", date_trunc("month", col("o_orderdate")).cast("date"))
        .withColumn("month_end", last_day(col("o_orderdate")))
        .withColumn("day_of_month", dayofmonth(col("o_orderdate")))
        .withColumn("quarter", quarter(col("o_orderdate")))
        .withColumn("plus_2m", add_months(col("o_orderdate"), 2))
        .orderBy("o_orderkey")
    },

    // Declarative sessionization via the session_window built-in — the
    // gap-merge q17 implements manually with lag/cumsum, as one grouping
    // expression (and the exact batch twin of the streaming sessionizer's
    // state semantics). Session end = last event + gap; two events are
    // one session iff their gap is STRICTLY under 30 min ([ts, ts+gap)
    // windows merge on overlap) — the oracle's lag/cumsum rendering
    // breaks on >= gap to match. One shuffle on user_id.
    "q85_session_window" -> { (s, dir) =>
      Synth.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Map-typed intermediate — builds per-user event-type count MAPS
    // (map_from_entries over the grouped counts), then explodes the map
    // back to rows. The map exists only inside the plan (map columns
    // don't cross the parquet/oracle boundary portably); the oracle is
    // the plain two-key groupBy, so the hash match proves the
    // build-then-explode roundtrip is the identity.
    "q86_map_roundtrip" -> { (s, dir) =>
      Synth.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("user_id")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("event_type"), col("cnt")))))
          .as("type_counts"))
        .select(col("user_id"), explode(col("type_counts")).as(Seq("event_type", "n")))
        .orderBy("user_id", "event_type")
    },

    // Equi-depth histogram: exact interpolated quartile boundaries (one
    // aggregate pass, 3 doubles to the driver-free broadcast) then a
    // map-only bucket assignment + count. The value-distribution
    // primitive behind range-partition planning and feature binning.
    // Boundary doubles are bit-identical cross-engine (q44b proves the
    // interpolation), so bucket membership — a <= compare against them —
    // is too. Scale note: EXACT percentile state is O(distinct values);
    // it is used here for oracle-checkability — q84b is the production
    // approx_percentile twin with the downstream bucket pass unchanged.
    "q84_equidepth_hist" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val bounds = ev.agg(
        expr("percentile(value, 0.25)").as("b1"),
        expr("percentile(value, 0.5)").as("b2"),
        expr("percentile(value, 0.75)").as("b3"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          when(col("value") <= col("b1"), 0)
            .when(col("value") <= col("b2"), 1)
            .when(col("value") <= col("b3"), 2)
            .otherwise(3))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(dec(col("value"))).cast("double").as("lo"),
          max(dec(col("value"))).cast("double").as("hi"))
        .orderBy("bucket")
    },

    // q84 at production scale: boundary quartiles via approx_percentile
    // (mergeable sketch, state bounded by the accuracy parameter — not
    // O(distinct values)). Estimates are engine-specific, so the output
    // is one row per quartile: the EXACT boundary (oracle-computable —
    // the q84 interpolation is bit-identical cross-engine) plus a
    // [[rankOk]] verdict that the sketch boundary honors the GK n/acc
    // rank guarantee; the oracle asserts rank_ok ≡ 1 (r9 verdict #2).
    // The downstream bucket pass lives in q84 — its counts under approx
    // boundaries shift by ≤ n/acc ranks per edge, exactly the slack the
    // verdict certifies.
    "q84b_equidepth_approx" -> { (s, dir) =>
      val ev = Synth.events(s, dir).select("value")
      val est = ev.agg(
        expr("approx_percentile(value, 0.25, 10000)").as("e1"),
        expr("approx_percentile(value, 0.5, 10000)").as("e2"),
        expr("approx_percentile(value, 0.75, 10000)").as("e3"))
      val exact = ev.agg(
        expr("percentile(value, 0.25)").as("b1"),
        expr("percentile(value, 0.5)").as("b2"),
        expr("percentile(value, 0.75)").as("b3"))
      ev.crossJoin(broadcast(est))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("e1"), 1L).otherwise(0L)).as("rlo1"),
          sum(when(col("value") <= col("e1"), 1L).otherwise(0L)).as("rhi1"),
          sum(when(col("value") < col("e2"), 1L).otherwise(0L)).as("rlo2"),
          sum(when(col("value") <= col("e2"), 1L).otherwise(0L)).as("rhi2"),
          sum(when(col("value") < col("e3"), 1L).otherwise(0L)).as("rlo3"),
          sum(when(col("value") <= col("e3"), 1L).otherwise(0L)).as("rhi3"))
        .crossJoin(broadcast(exact))
        .select(col("b1"), col("b2"), col("b3"),
          rankOk(0.25, 10000, col("rlo1"), col("rhi1"), col("n")).as("ok1"),
          rankOk(0.5, 10000, col("rlo2"), col("rhi2"), col("n")).as("ok2"),
          rankOk(0.75, 10000, col("rlo3"), col("rhi3"), col("n")).as("ok3"))
        .selectExpr("stack(3, 0.25d, b1, ok1, 0.5d, b2, ok2, 0.75d, b3, ok3)" +
          " as (q, exact_b, rank_ok)")
        .orderBy("q")
    },

    // Salted two-phase aggregation — the skew-mitigation pattern for
    // aggregates (SkewJoin covers joins): phase 1 groups on
    // (key, hash-salt) so a hot key's rows spread across 16 reducers and
    // partially aggregate there; phase 2 merges the 16 partials per key.
    // Counts/sums are associative, so the result is IDENTICAL to the
    // plain groupBy — and the oracle IS the plain groupBy, proving it.
    // (For uniform keys Spark's map-side partial agg already does this;
    // salting matters when one key dominates entire partitions at 100 TB
    // — the decomposition is the same one a SUM/COUNT rollup uses.)
    "q82_salted_agg" -> { (s, dir) =>
      val salted = Synth.events(s, dir)
        .groupBy(col("event_type"), pmod(hash(col("event_id")), lit(16)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("psum"))
      salted.groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("psum")).cast("double").as("sum_value"))
        .orderBy("event_type")
    },

    // Skew advisor — the planning pass that decides WHEN q82's salting
    // (and SkewJoin's buckets) is needed, instead of guessing: per join
    // key, its row count, corpus share (ppm), skew factor vs a perfectly
    // even 32-partition spread (100 = even), and the salt bucket count
    // that restores even spread — b = ⌈cnt·P/total⌉, the smallest b with
    // cnt/b ≤ total/P. All integer arithmetic; the output drives
    // SkewJoin.buckets config. At 100 TB the same report runs over q102's
    // CMS heavy-hitter sketch instead of exact counts — identical
    // downstream formula, this is the exact tier.
    "q153_skew_advisor" -> { (s, dir) =>
      val P = 32
      val keyed = Synth.events(s, dir)
        .groupBy(col("event_type").as("key")).agg(count(lit(1)).as("cnt"))
      val tot = keyed.agg(sum(col("cnt")).as("total"))
      keyed.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("cnt * 1000000 div total"))
        .withColumn("skew_factor_pct", expr(s"cnt * $P * 100 div total"))
        .withColumn("rec_salt",
          expr(s"cast((cnt * $P + total - 1) div total as int)"))
        .withColumn("needs_salt", col("rec_salt") > 1)
        .select("key", "cnt", "share_ppm", "skew_factor_pct", "rec_salt",
          "needs_salt")
        .orderBy(col("cnt").desc, col("key"))
    },

    // Leave-one-out target encoding — the categorical→numeric feature
    // transform that avoids leaking each row's own label: every row gets
    // the mean target of ITS OWN group computed WITHOUT it,
    // (Σ_group − y_i) / (n_group − 1). One group aggregation broadcast
    // back over the fact table (group cardinality = #categories, always
    // broadcastable) — the corpus pass stays map-side, no window, no
    // self-join. Sums run in decimal(18,2) (exact for 2-decimal
    // targets), the subtraction is exact decimal, and the one divide is
    // fixed-order IEEE — hash-stable. Singleton groups are excluded by
    // the integer predicate (LOO undefined at n = 1).
    "q156_loo_target_encoding" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy("event_type")
        .agg(sum(dec(col("value"))).as("s"), count(lit(1)).as("cnt"))
      ev.join(broadcast(stats), "event_type")
        .filter(col("cnt") > 1)
        .withColumn("loo_enc", expr(
          "cast(s - cast(value as decimal(18,2)) as double) / cast(cnt - 1 as double)"))
        .select("event_id", "event_type", "value", "loo_enc")
        .orderBy("event_id")
    },

    // Data-contract check — the expectation suite a pipeline runs before
    // promoting a batch (null/uniqueness/range/domain/freshness rules),
    // evaluated in ONE scan: every rule is a conditional count inside a
    // single aggregation (multi-distinct handled by Spark's Expand), the
    // 1-row result fans out to one row per rule map-side. No per-rule
    // passes — at 100 TB the contract costs exactly one table read.
    // Thresholds are chosen to produce real violations on this corpus so
    // the report's counting is actually exercised, not vacuously zero.
    "q163_contract_check" -> { (s, dir) =>
      val a = Synth.events(s, dir).agg(
        count(lit(1)).as("n"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("v_null"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("v_dup"),
        sum(when(col("value") < 0 || col("value") > 200, 1L)
          .otherwise(0L)).as("v_range"),
        sum(when(!col("event_type").isin("view", "click", "purchase",
          "signup"), 1L).otherwise(0L)).as("v_domain"),
        sum(when(col("ts") >= lit("2024-01-22").cast("timestamp"), 1L)
          .otherwise(0L)).as("v_fresh"))
      a.select(col("n"), explode(expr(
          "array(" +
            "named_struct('rule', 'event_id_not_null', 'v', v_null), " +
            "named_struct('rule', 'event_id_unique', 'v', v_dup), " +
            "named_struct('rule', 'value_in_0_200', 'v', v_range), " +
            "named_struct('rule', 'event_type_allowed', 'v', v_domain), " +
            "named_struct('rule', 'ts_before_2024_01_22', 'v', v_fresh))"))
          .as("r"))
        .select(col("r.rule").as("rule"), col("n").as("n_checked"),
          col("r.v").as("n_violations"))
        .withColumn("pass", col("n_violations") === 0)
        .withColumn("violation_ppm",
          expr("n_violations * 1000000 div n_checked"))
        .orderBy("rule")
    },

    // Three-branch MERGE — the full MERGE INTO statement: WHEN MATCHED
    // UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT. q109
    // covers the changelog half (latest-wins compaction of a keyed CDC
    // stream, upsert/delete apply); this covers the two pieces q109's
    // feed can't produce — INSERTS of keys absent from the base, and
    // EXPLICIT OP-PRECEDENCE conflict resolution when one key carries
    // several ops in the same feed. The feed (derived deterministically
    // from the corpus so the oracle replays it: doc_id ≡ 0 mod 10 →
    // update lang, ≡ 0 mod 97 → delete, ≡ 0 mod 101 → insert a shifted
    // copy) is first compacted to ONE winning op per key (max over an
    // explicit op-precedence struct — delete beats update, the
    // engine-portable conflict rule), then applied with a single
    // full-outer join on the key. Scale shape: changes are typically
    // ≪ base, so the join's change side is small and the base side
    // shuffles once on the merge key — exactly what MERGE INTO plans;
    // no per-op passes over the base.
    "q159_merge_three_branch" -> { (s, dir) =>
      val base = Synth.documents(s, dir).select("doc_id", "source", "lang")
      val upd = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit(2).as("prio"), lit("U").as("op"),
          col("source").as("c_source"), lit("xx").as("c_lang"))
      val del = base.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), lit(3).as("prio"), lit("D").as("op"),
          col("source").as("c_source"), col("lang").as("c_lang"))
      val ins = base.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          lit(1).as("prio"), lit("I").as("op"),
          col("source").as("c_source"), lit("new").as("c_lang"))
      val changes = upd.unionAll(del).unionAll(ins)
        .groupBy("doc_id")
        .agg(max(struct(col("prio"), col("op"), col("c_source"),
          col("c_lang"))).as("c"))
        .select(col("doc_id"), col("c.op").as("op"),
          col("c.c_source").as("c_source"), col("c.c_lang").as("c_lang"))
      base.join(changes, Seq("doc_id"), "full_outer")
        .filter(coalesce(col("op"), lit("=")) =!= "D")
        .select(col("doc_id"),
          coalesce(col("c_source"), col("source")).as("source"),
          when(col("op").isin("U", "I"), col("c_lang"))
            .otherwise(col("lang")).as("lang"),
          coalesce(col("op"), lit("=")).as("last_op"))
        .orderBy("doc_id")
    },

    // RFM segmentation — the classic recency/frequency/monetary user
    // quartile grid: per user the three metrics aggregate in one shuffle
    // (recency vs the corpus max day, integer days; monetary in exact
    // decimal), the nine quartile thresholds are ONE 1-row broadcast of
    // interpolated percentiles (bit-identical cross-engine, the q84
    // argument), and binning + the segment rollup are map-side. Output =
    // the ≤64-cell segment grid with user counts and revenue — the
    // marketing-segmentation shape, but also exactly how a curation run
    // buckets sources by (freshness, volume, quality).
    "q157_rfm_segments" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val dmax = ev.agg(max(to_date(col("ts"))).as("dmax"))
      // NO checkpoint on rfm (measured r11): it is consumed twice (the
      // percentile pass and the binning pass), but materializing the
      // user-sized frame benched SLOWER in both A/B windows (0.67→0.84,
      // 0.48→0.69) — the checkpoint job costs more than the saved
      // event-log re-aggregation at any tested scale.
      val rfm = ev.groupBy("user_id").agg(
        max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("f"),
        sum(dec(col("value"))).as("m"))
        .crossJoin(broadcast(dmax))
        .withColumn("r", datediff(col("dmax"), col("last_d")).cast("long"))
      val th = rfm.agg(
        expr("percentile(r, 0.25)").as("r1"),
        expr("percentile(r, 0.5)").as("r2"),
        expr("percentile(r, 0.75)").as("r3"),
        expr("percentile(f, 0.25)").as("f1"),
        expr("percentile(f, 0.5)").as("f2"),
        expr("percentile(f, 0.75)").as("f3"),
        expr("percentile(cast(m as double), 0.25)").as("m1"),
        expr("percentile(cast(m as double), 0.5)").as("m2"),
        expr("percentile(cast(m as double), 0.75)").as("m3"))
      def bin(c: String, lo: String, mid: String, hi: String, asc: Boolean) = {
        val (b1, b2, b3, b4) = if (asc) (1, 2, 3, 4) else (4, 3, 2, 1)
        when(col(c) <= col(lo), b1).when(col(c) <= col(mid), b2)
          .when(col(c) <= col(hi), b3).otherwise(b4)
      }
      rfm.crossJoin(broadcast(th))
        .withColumn("r_bin", bin("r", "r1", "r2", "r3", asc = false))
        .withColumn("f_bin", bin("f", "f1", "f2", "f3", asc = true))
        .withColumn("m_bin", bin("m", "m1", "m2", "m3", asc = true))
        .groupBy("r_bin", "f_bin", "m_bin")
        .agg(count(lit(1)).as("n_users"),
          sum(col("m")).cast("double").as("revenue"))
        .orderBy("r_bin", "f_bin", "m_bin")
    },

    // Ordered funnel (view → click → purchase per user): the sequence-
    // pattern shape of product analytics. ONE aggregation: per user,
    // collect the event sequence, sort it in event time (struct sort —
    // (ts, event_id) makes the order total), and WALK it with the
    // aggregate() higher-order function carrying the stage reached as
    // fold state. The walk is a codegen'd lambda over an in-memory
    // array — no self-joins, no re-shuffles per stage. The oracle
    // reaches the same stages RELATIONALLY (three min-seq CTE steps), so
    // the hash match cross-checks two different formulations, not one
    // implementation against itself.
    "q79_funnel" -> { (s, dir) =>
      Synth.events(s, dir)
        .groupBy("user_id")
        .agg(expr(
          """aggregate(
            |  array_sort(collect_list(struct(ts, event_id, event_type))),
            |  0,
            |  (acc, e) -> CASE
            |    WHEN acc = 0 AND e.event_type = 'view' THEN 1
            |    WHEN acc = 1 AND e.event_type = 'click' THEN 2
            |    WHEN acc = 2 AND e.event_type = 'purchase' THEN 3
            |    ELSE acc END)""".stripMargin).as("funnel_stage"))
        .orderBy("user_id")
    },

    // Cohort retention: users bucketed by first-seen day, activity
    // counted per (cohort day, day offset) — the retention-matrix
    // primitive. First-seen is one shuffle on user_id; the join back is
    // user-keyed (AQE broadcasts when the user dimension fits); the
    // final distinct-count shuffles (cohort, offset, user) once.
    "q80_cohort_retention" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val first = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
      ev.join(first, "user_id")
        .withColumn("day_offset", datediff(col("d"), col("cohort_day")))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },

    // Order-to-ship latency by priority — the operational-SLA rollup
    // over the TPC-H fact pair: every lineitem's (ship − order) day lag,
    // summarized per priority class. One fact-fact shuffle join on the
    // order key (at 100 TB both tables bucket on orderkey and the join
    // goes shuffle-free — the BucketedJoinSpec layout); lags are exact
    // integer days and the percentiles the cross-engine-exact
    // interpolated form.
    "q169_ship_latency" -> { (s, dir) =>
      val o = Synth.orders(s, dir).select(col("o_orderkey"),
        col("o_orderpriority"), to_date(col("o_orderdate")).as("od"))
      val l = Synth.lineitem(s, dir).select(
        col("l_orderkey").as("o_orderkey"),
        to_date(col("l_shipdate")).as("sd"))
      l.join(o, "o_orderkey")
        .withColumn("lag_days", datediff(col("sd"), col("od")).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          min(col("lag_days")).as("min_days"),
          expr("percentile(lag_days, 0.5)").as("p50_days"),
          expr("percentile(lag_days, 0.9)").as("p90_days"),
          max(col("lag_days")).as("max_days"))
        .orderBy("o_orderpriority")
    },

    // Conversion-lag distribution — the time-to-convert metric next to
    // q79's funnel counts and q80's retention matrix: per converting
    // user, the lag from first 'view' to the first 'purchase' AFTER it,
    // aggregated to per-cohort-day count + p50/p90 lag. Lags are exact
    // epoch-microsecond integers (one min-aggregation per user — a
    // single user-keyed shuffle), the percentiles are the
    // cross-engine-exact interpolated form over those integers, and
    // cohort days are integer day arithmetic — hash-exact throughout.
    "q165_conversion_lag" -> { (s, dir) =>
      val ev = Synth.events(s, dir)
      val firsts = ev
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view",
            expr("unix_micros(ts)"))).as("first_view_us"),
          min(to_date(col("ts"))).as("first_day"))
      val conv = ev.select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .join(firsts, "user_id")
        .filter(col("event_type") === "purchase" &&
          col("first_view_us").isNotNull &&
          col("us") >= col("first_view_us"))
        .groupBy("user_id")
        .agg(first(col("first_day")).as("first_day"),
          (min(col("us")) - first(col("first_view_us"))).as("lag_us"))
      conv
        .withColumn("cohort_day",
          expr("cast(datediff(first_day, date'2024-01-01') as bigint)"))
        .groupBy("cohort_day")
        .agg(count(lit(1)).as("n_converted"),
          expr("percentile(lag_us, 0.5)").as("p50_lag_us"),
          expr("percentile(lag_us, 0.9)").as("p90_lag_us"))
        .orderBy("cohort_day")
    },

    // RANGE-framed sliding window — the VALUE-based frame q72's ROWS
    // frames don't cover: each event sees the count/sum of its user's
    // events in the trailing 10 minutes of EVENT TIME. Range frames are
    // tie-safe by construction (peers by value, not row order), so no
    // tiebreak column is needed for determinism. One hash exchange on
    // user_id + per-partition sort — the batch twin of the streaming
    // sliding-window aggregate.
    "q78_range_window" -> { (s, dir) =>
      Synth.events(s, dir).createOrReplaceTempView("events")
      s.sql("""
        SELECT event_id, user_id,
          count(*) OVER w AS n_10m,
          cast(sum(cast(value as decimal(18,2))) OVER w as double) AS sum_10m
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
          RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")
    },

    // Type-2 slowly-changing dimension build — the warehouse op that turns
    // an append-only event stream into versioned dimension rows: collapse
    // each user's consecutive run of equal event_type into one row with
    // [valid_from, valid_to) validity and an is_current flag. Change
    // detection is lag() ≠ current, run ids are the running sum of change
    // marks (the q17 sessionize trick), validity bounds come from lead()
    // over the collapsed runs. Validity is exported as epoch MICROSECONDS
    // (integer — engine-identical; formatted strings differ in sub-ms
    // rendering). Plan shape: ONE hash exchange on user_id — both windows
    // and the (user_id, version) group reuse it (HashPartitioning on a
    // subset of the grouping keys satisfies ClusteredDistribution), so at
    // 100 TB this is a single shuffle + per-partition sorts.
    "q106_scd2" -> { (s, dir) =>
      Synth.events(s, dir).createOrReplaceTempView("events")
      s.sql(scd2Sql("unix_micros"))
    },

    // CDC log compaction + MERGE apply — the Delta/Iceberg MERGE INTO
    // shape from plain Spark mechanics: a keyed changelog (op = upsert or
    // delete derived per record, latest-wins by (ts, event_id)) is
    // compacted per key on each side of a base/delta split, then a
    // full-outer join applies delta over base: delta upsert wins, delta
    // delete tombstones, untouched base keys pass through (unless their
    // own latest op was a delete). Plan shape at 100 TB: each side is ONE
    // hash shuffle on key (the compaction window), and the full-outer
    // sort-merge join REUSES both exchanges — no extra shuffle; a
    // bucketed base table would drop its exchange entirely. Validity
    // exported as epoch microseconds (engine-identical integers).
    "q109_cdc_merge" -> { (s, dir) =>
      val ev = Synth.events(s, dir).select(
        (col("event_id") % 200).as("key"),
        col("event_id"), col("ts"), col("event_type"), col("value"),
        when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        (col("event_id") % 10).as("part"))
      val w = Window.partitionBy("key")
        .orderBy(col("ts").desc, col("event_id").desc)
      def compact(df: DataFrame) =
        df.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("key"), col("op"), col("event_type"),
            col("value"), expr("unix_micros(ts)").as("us"))
      val base = compact(ev.filter(col("part") < 7))
        .toDF("key", "b_op", "b_type", "b_val", "b_us")
      val delta = compact(ev.filter(col("part") >= 7))
        .toDF("key", "d_op", "d_type", "d_val", "d_us")
      val fromDelta = col("d_op").isNotNull
      base.join(delta, Seq("key"), "full_outer")
        .filter((fromDelta && col("d_op") === "U") ||
          (!fromDelta && col("b_op") === "U"))
        .select(col("key"),
          when(fromDelta, col("d_type")).otherwise(col("b_type"))
            .as("event_type"),
          when(fromDelta, col("d_val")).otherwise(col("b_val")).as("val"),
          when(fromDelta, col("d_us")).otherwise(col("b_us"))
            .as("updated_us"),
          when(fromDelta, lit("delta")).otherwise(lit("base")).as("src"))
        .orderBy("key")
    },

    // Approximate sketches: HLL distinct counts + approximate quantiles —
    // single-pass mergeable state, the 100 TB substitute for exact
    // distinct/percentile. Sketch estimates are engine-specific, so the
    // OUTPUT is the exact twin plus integer bound-verdict columns the
    // oracle asserts ≡ 1 (r9 verdict #2): users_ok = HLL++ estimate
    // within 3·rsd (rsd = 0.05 default) of the exact distinct count;
    // p50_ok/p99_ok = the GK rank guarantee via [[rankOk]]. The verdict
    // join-back is the ACCEPTANCE TEST shape — production runs the
    // estimate-only first aggregate; the exact twin here is what makes
    // the estimate hash-checkable at test scale.
    "q44_sketches" -> { (s, dir) =>
      val ev = Synth.events(s, dir).select("event_type", "user_id", "value")
      val est = ev.groupBy("event_type").agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_est"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99_est"))
      ev.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"),
          first(col("approx_users")).as("au"),
          sum(when(col("value") < col("p50_est"), 1L).otherwise(0L)).as("rlo50"),
          sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("rhi50"),
          sum(when(col("value") < col("p99_est"), 1L).otherwise(0L)).as("rlo99"),
          sum(when(col("value") <= col("p99_est"), 1L).otherwise(0L)).as("rhi99"))
        .select(col("event_type"), col("exact_users"),
          when(abs(col("au").cast("double") - col("exact_users").cast("double"))
            <= greatest(col("exact_users").cast("double") * 0.15, lit(2.0)), 1)
            .otherwise(0).as("users_ok"),
          rankOk(0.5, 1000, col("rlo50"), col("rhi50"), col("n")).as("p50_ok"),
          rankOk(0.99, 1000, col("rlo99"), col("rhi99"), col("n")).as("p99_ok"))
        .orderBy("event_type")
    },

    // q44's oracle-checkable twin: the EXACT versions of the sketched
    // stats (distinct count, interpolated percentiles), so the sketch
    // query's shape is hash-verified even though sketch estimates are
    // engine-specific. Values go through decimal(18,2) for cross-engine
    // float determinism.
    // Interpolation runs in DOUBLE on both engines (same lower + (upper −
    // lower) · frac formula over p·(n−1)), giving bit-identical doubles —
    // compared raw, because double→decimal ROUNDING conventions differ
    // between engines at half-cent boundaries while the doubles themselves
    // do not.
    "q44b_sketch_exact" -> { (s, dir) =>
      Synth.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          expr("percentile(value, 0.5)").as("p50_value"),
          expr("percentile(value, 0.99)").as("p99_value"))
        .orderBy("event_type")
    }
  )

  /** ONE rendering of the q106 SCD-2 build, shared by both engines;
    * `epochUs` is the engine's timestamp→microseconds function (Spark
    * `unix_micros`, DuckDB `epoch_us`). `lag(..) IS DISTINCT FROM ..`
    * marks both run changes and each user's first row.
    */
  private def scd2Sql(epochUs: String): String =
    s"""WITH marked AS (
       | SELECT user_id, event_type, ts, event_id,
       |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |        IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
       | FROM events),
       |runs AS (
       | SELECT user_id, event_type, ts,
       |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
       | FROM marked),
       |dim AS (
       | SELECT user_id, cast(version as int) AS version,
       |  min(event_type) AS event_type,
       |  min($epochUs(ts)) AS valid_from_us
       | FROM runs GROUP BY user_id, version)
       |SELECT user_id, version, event_type, valid_from_us,
       | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_us,
       | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) IS NULL AS is_current
       |FROM dim ORDER BY user_id, version""".stripMargin

  def oracle: Map[String, String] = Map(
    "q106_scd2" -> scd2Sql("epoch_us"),

    "q109_cdc_merge" ->
      """WITH ev AS (
        | SELECT event_id % 200 AS key, event_id, ts, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |  event_id % 10 AS part
        | FROM events),
        |base AS (
        | SELECT key, op AS b_op, event_type AS b_type, value AS b_val,
        |  epoch_us(ts) AS b_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM ev WHERE part < 7) WHERE rk = 1),
        |delta AS (
        | SELECT key, op AS d_op, event_type AS d_type, value AS d_val,
        |  epoch_us(ts) AS d_us FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM ev WHERE part >= 7) WHERE rk = 1)
        |SELECT coalesce(b.key, d.key) AS key,
        | CASE WHEN d_op IS NOT NULL THEN d_type ELSE b_type END AS event_type,
        | CASE WHEN d_op IS NOT NULL THEN d_val ELSE b_val END AS val,
        | CASE WHEN d_op IS NOT NULL THEN d_us ELSE b_us END AS updated_us,
        | CASE WHEN d_op IS NOT NULL THEN 'delta' ELSE 'base' END AS src
        |FROM base b FULL OUTER JOIN delta d ON b.key = d.key
        |WHERE (d_op IS NOT NULL AND d_op = 'U')
        |   OR (d_op IS NULL AND b_op = 'U')
        |ORDER BY key""".stripMargin,

    "q74_topk_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  cast(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) as int) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q72_window_suite" ->
      """SELECT event_id, user_id,
        | lead(event_id) OVER w AS next_id,
        | first_value(event_id) OVER
        |   (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_id,
        | cast(ntile(4) OVER w as int) AS quartile,
        | percent_rank() OVER w AS pr,
        | cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q73_cube" ->
      """SELECT event_type, user_id,
        | cast(grouping(event_type) as int) AS g_type,
        | cast(grouping(user_id) as int) AS g_user,
        | count(*) AS n,
        | cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
        |FROM events
        |GROUP BY CUBE (event_type, user_id)
        |ORDER BY g_type, g_user, event_type NULLS FIRST, user_id NULLS FIRST""".stripMargin,

    "q70_correlated_subquery" ->
      """SELECT l_partkey, count(*) AS n_small,
        | cast(sum(cast(l_extendedprice as decimal(18,2))) as double)
        |   AS small_revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,

    "q71_exists_subquery" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q98_json_roundtrip" ->
      """SELECT user_id, event_id, event_type
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q97_robust_outliers" ->
      """WITH meds AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(value - med) AS dev, med
        |  FROM events e JOIN meds USING (event_type)),
        |mads AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type AS event_type, any_value(d.med) AS med,
        |  any_value(m.mad) AS mad,
        |  cast(sum(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END) as bigint)
        |    AS n_outliers
        |FROM dev d JOIN mads m USING (event_type)
        |GROUP BY d.event_type ORDER BY event_type""".stripMargin,

    "q96_rolling_dau" ->
      """WITH du AS (
        |  SELECT DISTINCT cast(ts as date) AS d, user_id FROM events),
        |days AS (SELECT d, count(*) AS dau FROM du GROUP BY d)
        |SELECT d, dau,
        |  cast((SELECT count(DISTINCT u.user_id) FROM du u
        |        WHERE u.d BETWEEN days.d - 6 AND days.d) as int) AS wau
        |FROM days ORDER BY d""".stripMargin,

    "q95_gap_fill" ->
      """WITH b AS (
        |  SELECT min(cast(ts as date)) AS d0, max(cast(ts as date)) AS d1
        |  FROM events),
        |users AS (SELECT DISTINCT user_id FROM events),
        |spine AS (
        |  SELECT user_id,
        |    cast(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) as date) AS d
        |  FROM users, b),
        |counts AS (
        |  SELECT user_id, cast(ts as date) AS d, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |lastev AS (
        |  SELECT user_id, d, event_type AS day_last_type FROM (
        |    SELECT user_id, cast(ts as date) AS d, event_type,
        |      row_number() OVER (PARTITION BY user_id, cast(ts as date)
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT s.user_id AS user_id, s.d AS d,
        |  coalesce(n, 0) AS n_events,
        |  last_value(day_last_type IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_type
        |FROM spine s
        |  LEFT JOIN counts c ON c.user_id = s.user_id AND c.d = s.d
        |  LEFT JOIN lastev l ON l.user_id = s.user_id AND l.d = s.d
        |ORDER BY user_id, d""".stripMargin,

    "q92_revenue_share" ->
      """WITH rev AS (
        |  SELECT n_regionkey AS regionkey, n_name AS nation,
        |    sum(cast(o_totalprice as decimal(18,2))) AS rev
        |  FROM customer
        |    JOIN orders ON o_custkey = c_custkey
        |    JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2)
        |SELECT regionkey, nation, cast(rev as double) AS revenue,
        |  cast(rev as double) /
        |    cast(sum(rev) OVER (PARTITION BY regionkey) as double) AS share
        |FROM rev ORDER BY regionkey, nation""".stripMargin,

    "q93_filtered_agg" ->
      """SELECT o_orderpriority,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        |  count(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
        |  cast(sum(cast(o_totalprice as decimal(18,2)))
        |    FILTER (WHERE o_orderstatus = 'O') as double) AS open_revenue
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q94_string_agg" ->
      """SELECT n_regionkey AS regionkey,
        | string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | count(*) AS n
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,

    "q90_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
        |singles AS (SELECT event_type, count(*) AS cnt FROM ut GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS t_a, b.event_type AS t_b, count(*) AS n_ab
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t_a, t_b, n_ab,
        |  cast(n_ab * n_users as double) / cast(sa.cnt * sb.cnt as double)
        |    AS lift
        |FROM pairs
        |  JOIN singles sa ON sa.event_type = t_a
        |  JOIN singles sb ON sb.event_type = t_b
        |  CROSS JOIN n
        |ORDER BY t_a, t_b""".stripMargin,

    "q91_interevent_hist" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000 AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT CASE WHEN gap_s < 10 THEN 0 WHEN gap_s < 100 THEN 1
        |              WHEN gap_s < 1000 THEN 2 WHEN gap_s < 10000 THEN 3
        |              ELSE 4 END AS bucket, gap_s
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT bucket, count(*) AS n,
        |  min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q89_unpivot" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q87_edit_distance" ->
      """SELECT a.s_nationkey AS nationkey,
        | a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        | cast(levenshtein(a.s_name, b.s_name) as int) AS dist
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2
        |ORDER BY nationkey, id_a, id_b""".stripMargin,

    "q88_calendar" ->
      """SELECT o_orderkey, o_orderdate,
        | cast(date_trunc('month', o_orderdate) as date) AS month_start,
        | last_day(o_orderdate) AS month_end,
        | cast(day(o_orderdate) as int) AS day_of_month,
        | cast(quarter(o_orderdate) as int) AS quarter,
        | cast(o_orderdate + INTERVAL 2 MONTH as date) AS plus_2m
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q85_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q86_map_roundtrip" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q84_equidepth_hist" ->
      """WITH b AS (
        |  SELECT quantile_cont(value, 0.25) AS b1,
        |         quantile_cont(value, 0.5) AS b2,
        |         quantile_cont(value, 0.75) AS b3
        |  FROM events)
        |SELECT CASE WHEN value <= b1 THEN 0
        |            WHEN value <= b2 THEN 1
        |            WHEN value <= b3 THEN 2 ELSE 3 END AS bucket,
        |  count(*) AS n,
        |  cast(min(cast(value as decimal(18,2))) as double) AS lo,
        |  cast(max(cast(value as decimal(18,2))) as double) AS hi
        |FROM events CROSS JOIN b
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle is the UNSALTED aggregation — associativity makes the
    // two-phase rewrite invisible
    "q82_salted_agg" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(value as decimal(18,2))) as double) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q169_ship_latency" ->
      """WITH j AS (
        |  SELECT o.o_orderpriority,
        |    cast(date_diff('day', cast(o.o_orderdate as date),
        |      cast(l.l_shipdate as date)) as bigint) AS lag_days
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_lines,
        |  min(lag_days) AS min_days,
        |  quantile_cont(lag_days, 0.5) AS p50_days,
        |  quantile_cont(lag_days, 0.9) AS p90_days,
        |  max(lag_days) AS max_days
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q165_conversion_lag" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      AS first_view_us,
        |    min(cast(ts as date)) AS first_day
        |  FROM events GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id, any_value(f.first_day) AS first_day,
        |    min(epoch_us(e.ts)) - any_value(f.first_view_us) AS lag_us
        |  FROM events e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND f.first_view_us IS NOT NULL
        |    AND epoch_us(e.ts) >= f.first_view_us
        |  GROUP BY e.user_id)
        |SELECT
        |  cast(date_diff('day', DATE '2024-01-01', first_day)
        |    as bigint) AS cohort_day,
        |  count(*) AS n_converted,
        |  quantile_cont(lag_us, 0.5) AS p50_lag_us,
        |  quantile_cont(lag_us, 0.9) AS p90_lag_us
        |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin,

    "q163_contract_check" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    cast(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |      as bigint) AS v_null,
        |    cast(count(*) - count(DISTINCT event_id) as bigint) AS v_dup,
        |    cast(sum(CASE WHEN value < 0 OR value > 200 THEN 1 ELSE 0 END)
        |      as bigint) AS v_range,
        |    cast(sum(CASE WHEN event_type NOT IN
        |        ('view', 'click', 'purchase', 'signup')
        |      THEN 1 ELSE 0 END) as bigint) AS v_domain,
        |    cast(sum(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
        |      THEN 1 ELSE 0 END) as bigint) AS v_fresh
        |  FROM events),
        |rules AS (
        |  SELECT 'event_id_not_null' AS rule, n, v_null AS v FROM a
        |  UNION ALL SELECT 'event_id_unique', n, v_dup FROM a
        |  UNION ALL SELECT 'value_in_0_200', n, v_range FROM a
        |  UNION ALL SELECT 'event_type_allowed', n, v_domain FROM a
        |  UNION ALL SELECT 'ts_before_2024_01_22', n, v_fresh FROM a)
        |SELECT rule, n AS n_checked, v AS n_violations,
        |  v = 0 AS pass,
        |  cast(v * 1000000 // n as bigint) AS violation_ppm
        |FROM rules ORDER BY rule""".stripMargin,

    "q159_merge_three_branch" ->
      """WITH base AS (SELECT doc_id, source, lang FROM documents),
        |feed AS (
        |  SELECT doc_id, 2 AS prio, 'U' AS op, source AS c_source,
        |    'xx' AS c_lang
        |  FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, 3, 'D', source, lang
        |  FROM base WHERE doc_id % 97 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, 1, 'I', source, 'new'
        |  FROM base WHERE doc_id % 101 = 0),
        |changes AS (
        |  SELECT doc_id,
        |    max(struct_pack(prio := prio, op := op, c_source := c_source,
        |      c_lang := c_lang)) AS c
        |  FROM feed GROUP BY doc_id)
        |SELECT coalesce(b.doc_id, ch.doc_id) AS doc_id,
        |  coalesce(ch.c.c_source, b.source) AS source,
        |  CASE WHEN ch.c.op IN ('U', 'I') THEN ch.c.c_lang
        |       ELSE b.lang END AS lang,
        |  coalesce(ch.c.op, '=') AS last_op
        |FROM base b FULL OUTER JOIN changes ch ON ch.doc_id = b.doc_id
        |WHERE coalesce(ch.c.op, '=') <> 'D'
        |ORDER BY doc_id""".stripMargin,

    "q157_rfm_segments" ->
      """WITH ev AS (
        |  SELECT user_id, cast(ts as date) AS d,
        |    cast(value as decimal(18,2)) AS v
        |  FROM events),
        |dmax AS (SELECT max(d) AS dmax FROM ev),
        |rfm AS (
        |  SELECT user_id,
        |    cast(date_diff('day', max(d), (SELECT dmax FROM dmax))
        |      as bigint) AS r,
        |    count(*) AS f, sum(v) AS m
        |  FROM ev GROUP BY user_id),
        |th AS (
        |  SELECT quantile_cont(r, 0.25) AS r1, quantile_cont(r, 0.5) AS r2,
        |    quantile_cont(r, 0.75) AS r3,
        |    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
        |    quantile_cont(f, 0.75) AS f3,
        |    quantile_cont(cast(m as double), 0.25) AS m1,
        |    quantile_cont(cast(m as double), 0.5) AS m2,
        |    quantile_cont(cast(m as double), 0.75) AS m3
        |  FROM rfm),
        |binned AS (
        |  SELECT
        |    CASE WHEN r <= r1 THEN 4 WHEN r <= r2 THEN 3
        |         WHEN r <= r3 THEN 2 ELSE 1 END AS r_bin,
        |    CASE WHEN f <= f1 THEN 1 WHEN f <= f2 THEN 2
        |         WHEN f <= f3 THEN 3 ELSE 4 END AS f_bin,
        |    CASE WHEN cast(m as double) <= m1 THEN 1
        |         WHEN cast(m as double) <= m2 THEN 2
        |         WHEN cast(m as double) <= m3 THEN 3 ELSE 4 END AS m_bin,
        |    m
        |  FROM rfm, th)
        |SELECT r_bin, f_bin, m_bin, count(*) AS n_users,
        |  cast(sum(m) as double) AS revenue
        |FROM binned GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q156_loo_target_encoding" ->
      """WITH stats AS (
        |  SELECT event_type, sum(cast(value as decimal(18,2))) AS s,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type AS event_type, value,
        |  cast(s - cast(value as decimal(18,2)) as double)
        |    / cast(cnt - 1 as double) AS loo_enc
        |FROM events e JOIN stats USING (event_type)
        |WHERE cnt > 1 ORDER BY event_id""".stripMargin,

    "q153_skew_advisor" ->
      """WITH keyed AS (
        |  SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS total FROM keyed)
        |SELECT key, cnt,
        |  cast(cnt * 1000000 // total as bigint) AS share_ppm,
        |  cast(cnt * 32 * 100 // total as bigint) AS skew_factor_pct,
        |  cast((cnt * 32 + total - 1) // total as int) AS rec_salt,
        |  (cnt * 32 + total - 1) // total > 1 AS needs_salt
        |FROM keyed, tot
        |ORDER BY cnt DESC, key""".stripMargin,

    // relational unrolling of the HOF walk: seq = per-user event-time
    // rank; stage k's anchor = min seq of the k-th event type after the
    // previous anchor
    "q79_funnel" ->
      """WITH seqd AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN seq END) AS a1
        |  FROM seqd GROUP BY user_id),
        |s2 AS (
        |  SELECT q.user_id, min(CASE WHEN q.event_type = 'click'
        |    AND q.seq > s1.a1 THEN q.seq END) AS a2
        |  FROM seqd q JOIN s1 ON s1.user_id = q.user_id GROUP BY q.user_id),
        |s3 AS (
        |  SELECT q.user_id, min(CASE WHEN q.event_type = 'purchase'
        |    AND q.seq > s2.a2 THEN q.seq END) AS a3
        |  FROM seqd q JOIN s2 ON s2.user_id = q.user_id GROUP BY q.user_id)
        |SELECT s1.user_id AS user_id,
        |  CASE WHEN a3 IS NOT NULL THEN 3
        |       WHEN a2 IS NOT NULL THEN 2
        |       WHEN a1 IS NOT NULL THEN 1
        |       ELSE 0 END AS funnel_stage
        |FROM s1 JOIN s2 ON s2.user_id = s1.user_id
        |        JOIN s3 ON s3.user_id = s1.user_id
        |ORDER BY user_id""".stripMargin,

    "q80_cohort_retention" ->
      """WITH ev AS (SELECT user_id, cast(ts as date) AS d FROM events),
        |first AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT cohort_day, cast(d - cohort_day as int) AS day_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN first USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q78_range_window" ->
      """SELECT event_id, user_id,
        | count(*) OVER w AS n_10m,
        | cast(sum(cast(value as decimal(18,2))) OVER w as double) AS sum_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q75_pivot" ->
      """SELECT l_returnflag,
        | cast(sum(CASE WHEN l_linestatus = 'F'
        |   THEN cast(l_quantity as decimal(18,2)) END) as double) AS qty_f,
        | cast(sum(CASE WHEN l_linestatus = 'O'
        |   THEN cast(l_quantity as decimal(18,2)) END) as double) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q76_full_outer" ->
      """WITH c AS (
        |  SELECT c_nationkey, count(*) AS n_customers
        |  FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
        |s AS (
        |  SELECT s_nationkey, count(*) AS n_suppliers
        |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(n_suppliers, 0) AS n_suppliers
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nationkey""".stripMargin,

    "q77_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        | cast(grouping(o_orderpriority) as int) AS g_pri,
        | cast(grouping(o_orderstatus) as int) AS g_st,
        | count(*) AS n,
        | cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), ())
        |ORDER BY g_pri, g_st, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin,

    "q137_shipping_priority" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |  cast(sum(cast(l.l_extendedprice as decimal(18,2))
        |    * cast(1 - l.l_discount as decimal(18,2))) as double) AS revenue
        |FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < '1998-06-30'
        |  AND l.l_shipdate > '1998-06-30'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q138_local_supplier_volume" ->
      """SELECT n.n_name,
        |  cast(sum(cast(l.l_extendedprice as decimal(18,2))
        |    * cast(1 - l.l_discount as decimal(18,2))) as double) AS revenue
        |FROM customer c
        |  JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |    AND c.c_nationkey = s.s_nationkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q139_table_profile" ->
      """WITH w AS (
        |  SELECT count(*) AS n_rows,
        |    count(l_quantity) AS nn_q,
        |    count(DISTINCT l_quantity) AS nd_q,
        |    min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
        |    count(l_extendedprice) AS nn_e,
        |    count(DISTINCT l_extendedprice) AS nd_e,
        |    min(l_extendedprice) AS mn_e, max(l_extendedprice) AS mx_e,
        |    count(l_discount) AS nn_d,
        |    count(DISTINCT l_discount) AS nd_d,
        |    min(l_discount) AS mn_d, max(l_discount) AS mx_d
        |  FROM lineitem)
        |SELECT n_rows, 'l_quantity' AS column_name, nn_q AS n_nonnull,
        |  nd_q AS n_distinct, mn_q AS min_val, mx_q AS max_val FROM w
        |UNION ALL
        |SELECT n_rows, 'l_extendedprice', nn_e, nd_e, mn_e, mx_e FROM w
        |UNION ALL
        |SELECT n_rows, 'l_discount', nn_d, nd_d, mn_d, mx_d FROM w
        |ORDER BY column_name""".stripMargin,

    "q10_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
        | cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
        | cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2))) as double) AS sum_disc_price,
        | cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(1 - l_discount as decimal(18,2)) * cast(1 + l_tax as decimal(18,2))) as double) AS sum_charge,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*) AS avg_qty,
        | cast(sum(cast(l_discount as decimal(18,2))) as double) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q11_revenue_by_nation" ->
      """SELECT r_name, n_name,
        | cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS revenue,
        | count(*) AS n_orders
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_top_orders_per_cust" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  cast(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) as int) AS rk
        | FROM orders)
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q13_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= timestamp '1995-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_anti_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_shipdate >= timestamp '2001-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_setops" ->
      """SELECT 'both' AS tag, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'signup')
        |UNION ALL
        |SELECT 'purchase_only' AS tag, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'signup')
        |ORDER BY tag, user_id""".stripMargin,

    "q16_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        | coalesce(l_linestatus, '(all)') AS linestatus,
        | count(*) AS n_rows,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q17_sessionize" ->
      """SELECT user_id, event_id,
        | cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_seq
        |FROM (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |   THEN 1 ELSE 0 END AS new_sess
        | FROM events)
        |ORDER BY user_id, event_id""".stripMargin,

    "q18_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q44b_sketch_exact" ->
      """SELECT event_type,
        | count(DISTINCT user_id) AS exact_users,
        | quantile_cont(value, 0.5) AS p50_value,
        | quantile_cont(value, 0.99) AS p99_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle asserts the sketch-bound verdicts hold: estimates are
    // engine-specific, their published error bounds are not
    "q44_sketches" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | 1 AS users_ok, 1 AS p50_ok, 1 AS p99_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q84b_equidepth_approx" ->
      """WITH b AS (
        |  SELECT quantile_cont(value, 0.25) AS b1,
        |         quantile_cont(value, 0.5) AS b2,
        |         quantile_cont(value, 0.75) AS b3
        |  FROM events)
        |SELECT cast(0.25 as double) AS q, b1 AS exact_b, 1 AS rank_ok FROM b
        |UNION ALL SELECT cast(0.5 as double), b2, 1 FROM b
        |UNION ALL SELECT cast(0.75 as double), b3, 1 FROM b
        |ORDER BY q""".stripMargin,

    "q96b_rolling_dau_hll" ->
      """WITH du AS (
        |  SELECT DISTINCT cast(ts as date) AS d, user_id FROM events),
        |days AS (SELECT d, count(*) AS dau FROM du GROUP BY d)
        |SELECT d, dau,
        |  cast((SELECT count(DISTINCT u.user_id) FROM du u
        |        WHERE u.d BETWEEN days.d - 6 AND days.d) as int) AS wau,
        |  1 AS dau_ok, 1 AS wau_ok
        |FROM days ORDER BY d""".stripMargin,

    "q97b_robust_outliers_approx" ->
      """WITH meds AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, abs(value - med) AS dev, med
        |  FROM events e JOIN meds USING (event_type)),
        |mads AS (
        |  SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type AS event_type, any_value(d.med) AS med,
        |  any_value(m.mad) AS mad,
        |  cast(sum(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END) as bigint)
        |    AS n_outliers,
        |  1 AS med_ok, 1 AS mad_ok
        |FROM dev d JOIN mads m USING (event_type)
        |GROUP BY d.event_type ORDER BY event_type""".stripMargin,

    "q45_above_brand_avg" ->
      """SELECT p_partkey, p_brand, p_retailprice, avg_price FROM (
        | SELECT p_partkey, p_brand, p_retailprice,
        |  (SELECT cast(sum(cast(p2.p_retailprice as decimal(18,2))) as double) / count(*)
        |   FROM part p2 WHERE p2.p_brand = p.p_brand) AS avg_price
        | FROM part p)
        |WHERE p_retailprice > avg_price ORDER BY p_partkey""".stripMargin,

    // DuckDB has native ASOF JOIN — an independent implementation of the
    // same semantics, which is exactly what makes it a good oracle here.
    "q19_asof_join" ->
      """SELECT p.event_id AS event_id, p.user_id AS user_id,
        | v.event_id AS matched_view_id,
        | strftime(v.ts, '%Y-%m-%d %H:%M:%S.%g') AS matched_view_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY event_id""".stripMargin
  )
}
